"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.3: streaming entirely absent), so
this module is the forward-looking ingestion path for a continuously-crawled
table: windowed aggregates with watermarks over an events stream, plus a
batch sessionization (window lag + gap cumsum) that matches the streaming
`session_window` semantics for oracle checking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def run_windowed_counts(
    spark: SparkSession,
    source_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "windowed_counts",
) -> DataFrame:
    """Windowed per-type counts over a parquet-backed stream; memory sink,
    complete mode (finite smoke input -> all windows present), drained
    synchronously with processAllAvailable()."""
    batch_df = spark.read.parquet(source_dir)
    # the streaming file source wants a directory; a single-file input is
    # handled with a glob filter on its parent
    if source_dir.endswith(".parquet"):
        parent, fname = source_dir.rsplit("/", 1)
        reader = (
            spark.readStream.schema(batch_df.schema)
            .option("pathGlobFilter", fname)
            .format("parquet")
        )
        stream = reader.load(parent)
    else:
        stream = spark.readStream.schema(batch_df.schema).parquet(source_dir)
    # parquet timestamps without tz arrive as TIMESTAMP_NTZ; watermarks need
    # session-tz TIMESTAMP
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(
        f"SELECT win.start AS win_start, event_type, n, sum_value "
        f"FROM {query_name}"
    )


def run_stateful_counts(
    spark: SparkSession,
    source_dir: str,
    query_name: str = "stateful_counts",
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    running per-event_type (count, sum) accumulated in explicit state across
    micro-batches — the state-store pattern a continuously-crawled encode
    pipeline would use for per-host codec statistics."""
    import pandas as pd

    batch_df = spark.read.parquet(source_dir)
    if source_dir.endswith(".parquet"):
        parent, fname = source_dir.rsplit("/", 1)
        stream = (
            spark.readStream.schema(batch_df.schema)
            .option("pathGlobFilter", fname)
            .format("parquet")
            .load(parent)
        )
    else:
        stream = spark.readStream.schema(batch_df.schema).parquet(source_dir)

    def update(key, pdfs, state):
        total_n, total_v = state.get() if state.exists else (0, 0.0)
        for pdf in pdfs:
            total_n += len(pdf)
            total_v += float(pdf["value"].sum())
        state.update((total_n, total_v))
        yield pd.DataFrame(
            {"event_type": [key[0]], "n": [total_n], "sum_value": [round(total_v, 4)]}
        )

    out = stream.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, n long, sum_value double",
        stateStructType="n long, sum_value double",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # memory sink in update mode appends rows; the latest row per key is the
    # final state
    return spark.sql(
        f"""SELECT event_type, n, sum_value FROM (
              SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY n DESC) rn
              FROM {query_name}) WHERE rn = 1"""
    ).drop("rn")


def run_streaming_dedup(
    spark: SparkSession,
    source_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
    query_name: str = "stream_dedup",
    normalize_ws: bool = False,
) -> DataFrame:
    """Cross-micro-batch EXACT dedup for continuous ingest: per-fingerprint
    state (applyInPandasWithState) admits only the first-seen document of
    each md5 group; later micro-batches containing the same text emit
    nothing. Within a micro-batch the min id wins (deterministic); across
    micro-batches the earliest epoch wins — the streaming analog of
    exact_dedup's keep-list, with the state store playing the role of the
    seen-set at 100 TB (state is one fingerprint -> one id, nothing
    document-sized).

    The default fingerprint is raw ``md5(text)`` — the SAME key batch
    ``exact_dedup`` (and the exact_dedup/clean_corpus oracles) group on, so
    streaming and batch keep-lists agree on every document.
    ``normalize_ws=True`` switches to whitespace-normalized md5 (collapses
    runs of whitespace before hashing) — a deliberately LOOSER key that
    merges documents differing only in whitespace, and therefore a
    deliberate divergence from the batch keep-list.

    Returns the keeper list (fingerprint, id)."""
    import pandas as pd

    batch_df = spark.read.parquet(source_dir)
    reader = spark.readStream.schema(batch_df.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    if normalize_ws:
        fp = F.md5(
            F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
        ).alias("fingerprint")
    else:
        fp = F.md5(F.col(text_col)).alias("fingerprint")
    keyed = stream.select(fp, F.col(id_col).alias("id"))

    def keep_first(key, pdfs, state):
        if state.exists:
            # fingerprint already admitted in an earlier micro-batch
            for _ in pdfs:
                pass
            return
        best = None
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf["id"].min())
                best = m if best is None else min(best, m)
        if best is None:
            return
        state.update((best,))
        yield pd.DataFrame({"fingerprint": [key[0]], "id": [best]})

    out = keyed.groupBy("fingerprint").applyInPandasWithState(
        keep_first,
        outputStructType="fingerprint string, id long",
        stateStructType="keeper long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(
        f"SELECT fingerprint, id AS {id_col} FROM {query_name}"
    ).dropDuplicates(["fingerprint"])


def run_streaming_minhash_dedup(
    spark: SparkSession,
    source_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    shingle_mode: str = "word",
    max_files_per_trigger: int | None = None,
    query_name: str = "stream_minhash",
) -> DataFrame:
    """Cross-epoch NEAR-dup (MinHash-LSH) dedup for continuous ingest — the
    banded-signature analog of :func:`run_streaming_dedup`.

    Signatures and band keys reuse the batch operators verbatim
    (``minhash_banded_keys`` is pure Column expressions, legal on a
    streaming DataFrame). Per (band, key) bucket, applyInPandasWithState
    keeps ONE keeper id — the first-seen (min id within its micro-batch) —
    so state is O(distinct buckets), never O(documents) and never text
    bytes. Every arriving doc emits (band, key, id, keeper); a doc is a
    near-dup CANDIDATE of its bucket keeper when keeper != id. The returned
    keep-list marks a doc kept iff it was first in ALL of its ``bands``
    buckets — the streaming twin of the batch
    minhash_lsh_candidates -> dedup_keep_list composition for bucket-shaped
    duplicate groups (batch verifies candidates with exact Jaccard; a
    streaming pass cannot, because state must not hold documents — callers
    needing verification join survivors back to a store).

    Returns (doc_id, kept, dup_of): ``dup_of`` = smallest keeper among
    buckets where this doc was not first (NULL when kept)."""
    import pandas as pd

    from cuda_float_compress_spark.operators.dedup import minhash_banded_keys

    batch_df = spark.read.parquet(source_dir)
    reader = spark.readStream.schema(batch_df.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    exploded = minhash_banded_keys(
        stream, id_col, text_col, n_hashes, bands, shingle_k, shingle_mode
    )

    def admit(key, pdfs, state):
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(int(x) for x in pdf["id"])
        if not ids:
            return
        if state.exists:
            keeper = int(state.get[0])
        else:
            keeper = min(ids)
            state.update((keeper,))
        yield pd.DataFrame(
            {
                "band": [int(key[0])] * len(ids),
                "key": [key[1]] * len(ids),
                "id": ids,
                "keeper": [keeper] * len(ids),
            }
        )

    out = exploded.groupBy("band", "key").applyInPandasWithState(
        admit,
        outputStructType="band int, key string, id long, keeper long",
        stateStructType="keeper long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(f"SELECT band, key, id, keeper FROM {query_name}")
    return (
        rows.groupBy("id")
        .agg(
            F.max((F.col("keeper") != F.col("id")).cast("int")).alias("dup"),
            F.min(
                F.when(F.col("keeper") != F.col("id"), F.col("keeper"))
            ).alias("dup_of"),
        )
        .select(
            F.col("id").alias(id_col),
            (F.col("dup") == 0).alias("kept"),
            "dup_of",
        )
    )


def run_streaming_minhash_dedup_verified(
    spark: SparkSession,
    source_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    shingle_mode: str = "word",
    threshold: float = 0.7,
    bucket_cap: int = 64,
    max_files_per_trigger: int | None = None,
    query_name: str = "stream_minhash_v",
) -> DataFrame:
    """:func:`run_streaming_minhash_dedup` + the post-hoc verification the
    stream cannot do in-state (state must never hold documents).

    The streaming pass leaves every (band, key, id) row in its sink, so the
    epoch-end batch step reconstructs EXACTLY the batch candidate set —
    ``_window_capped_pairs`` over the sink rows is ``minhash_lsh_candidates``
    over the union of all epochs (same banding expressions, same cap, same
    lowest-ids-win ordering) — then runs the shared exact hashed-Jaccard
    verify against the document store and derives the keep-list. The result
    is therefore equal BY CONSTRUCTION to the batch
    ``minhash_lsh_pairs`` -> ``dedup_keep_list`` composition on the same
    corpus: not just for bucket-shaped groups, but for any fixture
    (including buckets where only non-keeper members are true near-dups,
    which the in-stream star-shaped keeper heuristic cannot link).

    Cost model at scale: the verify join touches only candidate ids
    (semi-join-pruned before shingling), so the epoch-end step is bounded
    by candidate volume, not corpus size; streaming state stays O(buckets).

    Returns the verified keep-list: one ``id_col`` row per kept document.
    """
    from cuda_float_compress_spark.operators.dedup import (
        _window_capped_pairs,
        dedup_keep_list,
        jaccard_verify_candidates,
    )

    run_streaming_minhash_dedup(
        spark, source_dir, text_col, id_col, n_hashes, bands, shingle_k,
        shingle_mode, max_files_per_trigger, query_name,
    )
    # .distinct() guards against micro-batch re-delivery of the same row;
    # the localCheckpoint cuts the MemorySink plan (whose views hit a
    # Catalyst conflicting-attribute error under self-join) and the rows —
    # (band, key, id) triples — are tiny and feed both sides of the
    # candidate self-join
    sink = (
        spark.sql(f"SELECT band, key, id FROM {query_name}")
        .distinct()
        .localCheckpoint(eager=True)
    )
    cands = _window_capped_pairs(sink, ["band", "key"], bucket_cap)
    docs = spark.read.parquet(source_dir)
    pairs = jaccard_verify_candidates(
        docs, cands, id_col, text_col, shingle_k, shingle_mode, threshold
    )
    return dedup_keep_list(docs, pairs, id_col)


def encode_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    url_col: str = "url",
    n_parts: int = 16,
    query_name: str = "encode_stream",
    max_files_per_trigger: int | None = None,
):
    """Continuous-ingest encode: a parquet-backed stream of web pages is
    compressed micro-batch by micro-batch via foreachBatch -> encode_table.

    Exactly-once story: (a) each epoch gets a DISJOINT part-id range
    (part_offset = epoch * n_parts) so block keys never collide across
    micro-batches; (b) the run_id is unique per ATTEMPT, and lineage is only
    written on success, so a foreachBatch retry's stale partial blocks carry
    an uncommitted run_id that decode/manifest ignore; (c) checkpoint replay
    re-runs the epoch in resume mode — parts with a committed lineage row
    are filtered out, so a fully-committed epoch is a metadata-only no-op
    and a PARTIALLY-committed one (crash mid-lineage-write) re-encodes only
    its missing parts instead of being wrongly skipped."""
    import uuid as _uuid

    from pyspark.sql import functions as _F

    from cuda_float_compress_spark.operators.encode import encode_table

    batch_df = spark.read.parquet(source_dir)
    reader = spark.readStream.schema(batch_df.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def sink(df, epoch_id: int):
        # Replay safety: resume=True scopes the encode to parts WITHOUT a
        # committed lineage row. A crash mid-lineage-commit can leave a
        # visible SUBSET of an epoch's rows, so "any committed row with this
        # epoch's run_id prefix" is not proof the epoch finished — skipping
        # on that test would silently drop the never-committed parts' data.
        # Part-id ranges are disjoint per epoch (part_offset), so the global
        # done-part filter re-encodes exactly this epoch's missing parts and
        # is a metadata-only no-op when the epoch fully committed.
        s = df.sparkSession
        encode_table(
            s, df, out_dir, url_col=url_col, n_parts=n_parts,
            resume=True, detect_skew=False,
            run_id=f"epoch-{epoch_id}-{_uuid.uuid4().hex[:6]}",
            part_offset=int(epoch_id) * n_parts,
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_stream_checkpoint")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def merge_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    key_col: str = "url",
    url_col: str = "url",
    version_col: str | None = None,
    n_parts: int = 8,
    query_name: str = "merge_stream",
    max_files_per_trigger: int | None = None,
):
    """Continuous UPSERT ingest (the CDC-apply loop): every micro-batch of
    row VERSIONS is merged into the encoded table via
    :func:`~cuda_float_compress_spark.operators.merge.merge_rows` —
    existing keys replaced, new keys inserted. ``version_col`` picks the
    winner when one batch carries several versions of a key (highest
    wins, ties broken arbitrarily-but-deterministically); without it,
    batches must be key-unique (merge_rows refuses duplicates).

    Replay contract: merge_rows is crash-healing — a foreachBatch retry
    re-scans and tombstones BOTH the original rows and any copies an
    interrupted attempt appended before appending again, so the table
    state is per-key idempotent under epoch replays (exactly one, the
    latest, version per key). An attempt that died before its tombstone
    run's ``_SUCCESS`` marker leaves that run inert. Replays do append
    extra runs; ``compact`` reclaims their storage, and ``vacuum`` the
    inert tombstone runs."""
    import uuid as _uuid

    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    from cuda_float_compress_spark.operators.merge import merge_rows

    batch_df = spark.read.parquet(source_dir)
    reader = spark.readStream.schema(batch_df.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def sink(df, epoch_id: int):
        s = df.sparkSession
        if version_col is not None:
            w = _W.partitionBy(key_col).orderBy(
                _F.col(version_col).desc(), *[
                    _F.col(c).desc() for c in df.columns
                    if c not in (key_col, version_col)
                ]
            )
            df = (
                df.withColumn("__rn", _F.row_number().over(w))
                .filter(_F.col("__rn") == 1)
                .drop("__rn")
            )
        if df.isEmpty():
            return
        merge_rows(
            s, out_dir, df, key_col=key_col, url_col=url_col,
            n_parts=n_parts,
            run_id=f"mrg-{epoch_id}-{_uuid.uuid4().hex[:6]}",
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_merge_checkpoint")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_session_windows(
    spark: SparkSession,
    source_dir: str,
    gap_minutes: int = 30,
    watermark: str = "24 hours",
    query_name: str = "session_windows",
) -> DataFrame:
    """TRUE streaming sessionization: Structured Streaming's session_window
    (dynamic gap-close windows) + watermark for late data, per user. The
    batch twin (sessionize_batch) computes identical sessions with window
    functions — the pytest cross-checks them, mirroring how the engine's
    encode pipeline pairs streaming ingest with a batch path."""
    batch_df = spark.read.parquet(source_dir)
    if source_dir.endswith(".parquet"):
        parent, fname = source_dir.rsplit("/", 1)
        stream = (
            spark.readStream.schema(batch_df.schema)
            .option("pathGlobFilter", fname)
            .format("parquet")
            .load(parent)
        )
    else:
        stream = spark.readStream.schema(batch_df.schema).parquet(source_dir)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("win"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(
        f"SELECT user_id, win.start AS session_start, n_events "
        f"FROM {query_name}"
    )


def sessionize_batch(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Batch sessionization: session = consecutive events per user with
    gaps < gap_minutes (lag + cumsum-on-gap — the SQL-expressible twin of
    streaming session_window)."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap (unix_micros, not a seconds cast): a truncated
    # seconds comparison could mis-split a session whose gap straddles the
    # boundary by < 1s on dense data
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    with_new = events.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    sessions = with_new.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
