"""Pure-Python Iceberg REST catalog client (no jars, stdlib HTTP only).

Closes the catalog-service read gap the on-disk reader
(sources/iceberg.py) cannot: tables addressed by (namespace, name)
through a catalog service instead of a filesystem path. Implements the
client side of the public Iceberg REST Catalog OpenAPI spec
(iceberg.apache.org/rest-catalog-spec — Apache-2.0):

* ``GET /v1/config`` (optional warehouse handshake; overrides merged)
* ``GET /v1/{prefix}/namespaces`` and ``.../namespaces/{ns}/tables``
  (listing)
* ``GET /v1/{prefix}/namespaces/{ns}/tables/{table}`` -> LoadTableResult:
  the embedded ``metadata`` document (or, when only
  ``metadata-location`` is returned, that file loaded from disk) feeds
  the SAME manifest-list/manifest/data-file walk and snapshot-id /
  timestamp time travel as the path-based reader.
* static ``Authorization: Bearer`` tokens (the OAuth2 token ENDPOINT is
  out of scope — tokens must be obtained out of band; stated limit)

Scope is the READ path over locally-reachable storage: the catalog tells
us WHERE the table lives; data/metadata files still stream through the
local filesystem (an object-store FileIO would slot into _resolve). The
sandbox has no external Iceberg service, so conformance is tested against
an in-process mock server implementing the spec's documented JSON shapes
(tests/test_iceberg.py) — the same fixture-twin strategy as
encode_png/encode_wav/write_iceberg_fixture.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

from pyspark.sql import DataFrame, SparkSession


class RestCatalog:
    """Minimal Iceberg REST catalog client.

    ``uri``: service base (e.g. ``http://host:8181``). ``token``: static
    bearer token added to every request. ``prefix``: path prefix; when
    None, ``GET /v1/config`` is consulted for the server's default."""

    def __init__(self, uri: str, token: str | None = None,
                 prefix: str | None = None, warehouse: str | None = None):
        self.uri = uri.rstrip("/")
        self.token = token
        if prefix is None:
            cfg = self._get_optional(
                "/v1/config"
                + (f"?warehouse={urllib.parse.quote(warehouse)}"
                   if warehouse else "")
            )
            merged = {}
            if cfg:
                merged.update(cfg.get("defaults", {}))
                merged.update(cfg.get("overrides", {}))
            prefix = merged.get("prefix", "")
        self.prefix = prefix.strip("/")

    # -- plumbing ----------------------------------------------------------

    def _url(self, path: str) -> str:
        base = f"{self.uri}/v1"
        if self.prefix:
            base += f"/{self.prefix}"
        return base + path

    def _get(self, url: str) -> dict:
        req = urllib.request.Request(url)
        if self.token:
            req.add_header("Authorization", f"Bearer {self.token}")
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as e:
            detail = ""
            try:
                detail = e.read().decode("utf-8", "replace")[:200]
            except Exception:
                pass
            raise ValueError(
                f"iceberg REST catalog error {e.code} for {url}: {detail}"
            ) from e
        except urllib.error.URLError as e:
            raise ValueError(
                f"iceberg REST catalog unreachable at {url}: {e.reason}"
            ) from e

    def _get_optional(self, path: str) -> dict | None:
        try:
            return self._get(f"{self.uri}{path}")
        except ValueError:
            return None

    # -- catalog surface ---------------------------------------------------

    def list_namespaces(self) -> list[tuple[str, ...]]:
        out = self._get(self._url("/namespaces"))
        return [tuple(ns) for ns in out.get("namespaces", [])]

    def list_tables(self, namespace: str) -> list[str]:
        ns = urllib.parse.quote(namespace, safe="")
        out = self._get(self._url(f"/namespaces/{ns}/tables"))
        return [t["name"] for t in out.get("identifiers", [])]

    def load_table(self, namespace: str, table: str) -> dict:
        """LoadTableResult -> (metadata dict, table location). Prefers the
        embedded ``metadata`` document; falls back to reading
        ``metadata-location`` from local storage."""
        ns = urllib.parse.quote(namespace, safe="")
        t = urllib.parse.quote(table, safe="")
        out = self._get(self._url(f"/namespaces/{ns}/tables/{t}"))
        meta = out.get("metadata")
        if meta is None:
            loc = out.get("metadata-location")
            if not loc:
                raise ValueError(
                    "LoadTableResult carries neither metadata nor "
                    "metadata-location"
                )
            from cuda_float_compress_spark.sources.iceberg import (
                _strip_scheme,
            )

            with open(_strip_scheme(loc)) as f:
                meta = json.load(f)
        return meta


def read_iceberg_rest(
    spark: SparkSession,
    uri: str,
    namespace: str,
    table: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    token: str | None = None,
    prefix: str | None = None,
) -> DataFrame:
    """Read an Iceberg table through a REST catalog service (no jars):
    catalog request -> TableMetadata -> manifest walk -> parquet scan,
    with the same snapshot-id / timestamp time travel AND merge-on-read
    delete application as :func:`read_iceberg_dir`."""
    from cuda_float_compress_spark.sources.iceberg import (
        _strip_scheme,
        read_scan_plan,
        scan_plan_from_metadata,
    )

    cat = RestCatalog(uri, token=token, prefix=prefix)
    meta = cat.load_table(namespace, table)
    table_dir = _strip_scheme(str(meta.get("location", "")))
    plan = scan_plan_from_metadata(meta, table_dir, snapshot_id, as_of_ms)
    return read_scan_plan(spark, meta, plan)


class serve_catalog_fixture:
    """Context manager spinning an in-process REST catalog mock over
    on-disk Iceberg tables, for tests and oracle queries (the sandbox has
    no external catalog service; this implements the spec's documented
    JSON shapes — config handshake with prefix discovery, bearer auth,
    namespace/table listing, LoadTableResult with embedded metadata).

    ``tables``: {(namespace, name): table_dir} of tables written by
    ``sources.iceberg.write_iceberg_fixture`` (or any v2 layout the
    on-disk loader understands). Yields the service base URI."""

    def __init__(self, tables: dict, token: str | None = None,
                 prefix: str = "ws"):
        self.tables = dict(tables)
        self.token = token
        self.prefix = prefix

    def __enter__(self) -> str:
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        from cuda_float_compress_spark.sources.iceberg import (
            load_table_metadata,
        )

        metas = {
            key: load_table_metadata(tdir)
            for key, tdir in self.tables.items()
        }
        token, prefix = self.token, self.prefix

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _reply(self, code, obj):
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                if self.path.startswith("/v1/config"):
                    return self._reply(
                        200, {"defaults": {}, "overrides": {"prefix": prefix}}
                    )
                if token is not None and (
                    self.headers.get("Authorization") != f"Bearer {token}"
                ):
                    return self._reply(401, {"error": {
                        "message": "missing/invalid bearer token",
                        "code": 401}})
                if self.path == f"/v1/{prefix}/namespaces":
                    spaces = sorted({ns for ns, _ in metas})
                    return self._reply(
                        200, {"namespaces": [[s] for s in spaces]}
                    )
                for (ns, name), meta in metas.items():
                    if self.path == f"/v1/{prefix}/namespaces/{ns}/tables":
                        idents = [
                            {"namespace": [n0], "name": t0}
                            for (n0, t0) in sorted(metas)
                            if n0 == ns
                        ]
                        return self._reply(200, {"identifiers": idents})
                    if self.path == (
                        f"/v1/{prefix}/namespaces/{ns}/tables/{name}"
                    ):
                        return self._reply(200, {"metadata": meta})
                return self._reply(404, {"error": {
                    "message": "table not found", "code": 404}})

        self._srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=self._srv.serve_forever,
                         daemon=True).start()
        return f"http://127.0.0.1:{self._srv.server_address[1]}"

    def __exit__(self, *exc):
        self._srv.shutdown()
        self._srv.server_close()
        return False
