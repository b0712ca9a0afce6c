"""Explicit partition planning: hash/range partitioning + salting for skewed
hosts.

The reference's unit of parallelism is the fixed 32,768-float block
(src/cuszplus_f32.cu:21-28) with zero inter-thread communication; ours is the
Spark partition, and the web-page table's natural key (url host) is Zipf-
skewed, so partition assignment must (a) be an explicit, DETERMINISTIC
function of the row — checkpoint resume re-derives it — and (b) split hot
hosts across several partitions (salting).

Scale notes (100 TB): the skew plan is one action, a groupBy(host).count()
over the key column only (column-pruned parquet scan) with the total as a
window over those counts, and the hot-host list it broadcasts is tiny
(hosts above 1/n_parts of the data — bounded by n_parts entries).
Everything downstream is a single exchange that places whole parts
directly: part p runs in task p mod k, k = min(n_parts, cores).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def host_expr(url_col: str = "url"):
    """Extract the host from a url column, JVM-side (no Python UDF).

    try_parse_url, not parse_url: under Spark 4's ANSI default a single
    malformed url (inevitable in crawl data) would otherwise throw and kill
    the whole encode job; invalid/absent hosts all partition as '<none>'."""
    return F.coalesce(
        F.nullif(F.try_parse_url(F.col(url_col), F.lit("HOST")), F.lit("")),
        F.lit("<none>"),
    )


def skewed_hosts(
    df: DataFrame,
    url_col: str = "url",
    n_parts: int = 32,
    skew_factor: float = 0.5,
    sample_fraction: float | None = None,
) -> dict[str, int]:
    """Hosts owning more than ``skew_factor``/n_parts of rows, mapped to the
    salt fan-out that splits them back to ~one-partition-sized slices.

    Returns {host: n_salts}. The result is small (≤ n_parts/skew_factor
    entries) so it broadcasts for free.

    ``sample_fraction`` scans a Bernoulli sample of the key column instead
    (seeded — deterministic for a fixed input layout): total and per-host
    counts both come from the same sampled groupBy, scaled by 1/fraction.
    Either way the plan is ONE action (3 Spark jobs: the scan, the
    histogram exchange, the total's single-partition window); at 100 TB a
    0.1% sample misses only hosts too small to matter (a host must own
    ~1/(2*n_parts) of ALL rows to need salting — ~10^8 sampled rows at
    that scale, far beyond sampling noise).
    """
    frac = sample_fraction
    keys = df.select(host_expr(url_col).alias("__host"))
    if frac is not None and 0 < frac < 1:
        keys = keys.sample(fraction=frac, seed=20240806)
        scale = 1.0 / frac
    else:
        scale = 1.0
    # ONE scan of the key column builds the per-host histogram; the total
    # is a window over it and the hot-host filter runs in the same plan.
    # Only hosts above threshold reach the driver — collecting every
    # host's count would be a driver OOM at web scale. (Spark warns that
    # the window moves all rows to one partition: one row per host.)
    total = (F.sum("count").over(Window.partitionBy()) * scale).cast("long")
    per_part = F.greatest(F.lit(1), F.expr(f"__total div {max(1, n_parts)}"))
    threshold = F.greatest(F.lit(1), (F.col("per_part") * skew_factor)
                           .cast("long"))
    hot = (keys.groupBy("__host").count().withColumn("__total", total)
           .withColumn("per_part", per_part)
           .filter(F.col("count") * scale > threshold).collect())
    out = {}
    for r in hot:
        est = int(r["count"] * scale)
        n_salts = max(1, int(-(-est // r["per_part"])))  # ceil
        if n_salts > 1:
            out[r["__host"]] = n_salts
    return out


def plan_partitions(
    df: DataFrame,
    url_col: str = "url",
    n_parts: int = 32,
    mode: str = "hash",
    salts: dict[str, int] | None = None,
) -> DataFrame:
    """Add a deterministic ``part_id`` column and shuffle by it.

    mode='hash': part_id = pmod(xxhash64(host, salt), n_parts) where salt
    splits hot hosts (salt = pmod(xxhash64(url), n_salts), a pure function of
    the row — resume re-derives identical assignments). Part p goes whole
    to task p mod k, k = min(n_parts, defaultParallelism): one task per
    core encodes its parts back to back (a hash of the part ids would
    leave some tasks empty and stack several parts on others).

    mode='range': range partition on (host, url) — keeps each host's pages
    contiguous and sorted, maximizing RLE/dict/delta locality, at the cost of
    a range-boundary sampling pass (Spark does this internally).
    """
    host = host_expr(url_col)
    if mode == "range":
        out = df.withColumn("__host", host)
        out = out.repartitionByRange(n_parts, "__host", url_col)
        # part_id labels the physical range partition for manifests/lineage
        out = out.withColumn("part_id", F.spark_partition_id().cast("int"))
        return out.drop("__host")
    if mode != "hash":
        raise ValueError(f"unknown partition mode: {mode}")
    salts = salts or {}
    if salts:
        items = sorted(salts.items())
        salt_map = F.create_map(
            *[F.lit(x) for kv in items for x in (kv[0], str(kv[1]))]
        )
        n_salts = F.coalesce(salt_map[host].cast("int"), F.lit(1))
        salt = F.pmod(F.xxhash64(F.col(url_col)), n_salts)
    else:
        salt = F.lit(0)
    part_id = F.pmod(F.xxhash64(host, salt), F.lit(n_parts)).cast("int")
    k = min(n_parts, df.sparkSession.sparkContext.defaultParallelism)
    return df.withColumn("part_id", part_id).repartitionById(k, "part_id")
