"""First-class Spark streaming source for REST/push feeds (SURVEY §2.1
S9/S10) via the PySpark 4 Python Data Source API.

Parity target: the reference's importer actors poll a feed for "records
since last id" and hand each new slice to the update loop
(odin_sentinel/src/lib.rs:1139-1209 records-since-id protocol,
odin_goesr/src/live_importer.rs:57-137 Initialize/Update seam). The
idiomatic-Spark restatement is a custom streaming source whose OFFSET is
that cursor: `spark.readStream.format("odin_rest")` with
`{"last_id": ...}` checkpointed by Spark itself, so exactly-once
delivery across restarts comes from the engine's own offset log instead
of a bridge process's side file (the RestPoller in poller.py remains the
out-of-engine deployment shape; this module is the in-engine one).

Why `SimpleDataSourceStreamReader`: a REST feed is a driver-scale
object — one poll per trigger, records arrive through one HTTP call —
so the simple-reader contract (driver-side read, records shipped to
executors by the engine, `readBetweenOffsets` for deterministic
failure replay) matches exactly. At 100 TB the heavy lifting is in the
downstream query plan, never in the poll; a feed that outgrows one
poller becomes N registered sources (one per shard/region), which is
precisely how the reference scales importers (one actor per satellite
/ region, odin_goesr/src/lib.rs).

Exactly-once contract: `read(start)` returns records with
id > start.last_id (capped at `batch_limit` per micro-batch — the
bounded-mailbox backpressure analog) and the new offset; on failure
between prefetch and commit, Spark calls `readBetweenOffsets(start,
end)`, which re-selects exactly (start, end] — deterministic for the
file/callable fetchers; for a live HTTP feed it requires the server to
retain the replayed range (same retention assumption the reference's
importer recovery makes).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

_DEFAULT_SCHEMA = "id BIGINT, payload STRING"


def _order_key(v):
    """Sort/compare key giving ints numeric order, strings lexicographic,
    and a stable cross-type order (ints first) so a feed that switches id
    representation cannot crash the offset advance (poller.py's
    `_newer_than` treats cross-type as new; here the total order keeps
    the cursor monotone under the tagged encoding)."""
    if isinstance(v, bool):  # bool is an int subclass; never a sane id
        return (1, str(v))
    if isinstance(v, int):
        return (0, v)
    if isinstance(v, float):
        return (0, v)
    return (1, str(v))


class _RestFeedReader(SimpleDataSourceStreamReader):
    """Driver-side poll loop as a Spark source. The fetch seam is the
    same one RestPoller uses: a callable returning a list of dicts. Three
    wirings, chosen by option:

    - ``path``: JSON-lines feed file (append-only, monotone ids) — the
      deterministic test/replay fetcher; also the bronze-file shape the
      out-of-engine poller lands, so a deployment can switch between
      bridge and in-engine source without changing the feed format.
    - ``url``: ``GET url.format(since=<last_id>)`` returning a JSON
      array — the live production seam (poller.http_json_fetcher).
    - a fetcher injected via `register_rest_source(..., fetch_since=)`.
    """

    def __init__(self, schema: StructType, options) -> None:
        self.schema = schema
        self.id_field = options.get("id_field") or "id"
        self.batch_limit = int(options.get("batch_limit") or "10000")
        self.path = options.get("path")
        self.url = options.get("url")
        self._fetch_since = None
        fetcher_hex = options.get("fetcher")
        if fetcher_hex:
            # the reader is constructed in Spark's Python source-runner
            # process, not the driver — an in-process registry would be
            # empty there, so the callable travels INSIDE the plan as a
            # cloudpickle-hex option (see encode_fetcher)
            from pyspark import cloudpickle

            self._fetch_since = cloudpickle.loads(bytes.fromhex(fetcher_hex))
        if not (self.path or self.url or self._fetch_since):
            raise ValueError(
                "odin_rest source needs one of: path (JSON-lines feed "
                "file), url (GET template with {since}), or a registered "
                "fetcher"
            )
        self._fields = [f.name for f in schema.fields]

    # -- fetch seam --------------------------------------------------------

    def _fetch(self, since) -> list[dict]:
        """All records with id > since, in id order. `since=None` → all."""
        if self._fetch_since is not None:
            recs = list(self._fetch_since(since) or [])
        elif self.path is not None:
            recs = []
            try:
                with open(self.path) as f:
                    for line in f:
                        line = line.strip()
                        if line:
                            recs.append(json.loads(line))
            except OSError:
                recs = []  # feed not landed yet → empty poll, retry next trigger
        else:
            # urllib inline rather than poller.http_json_fetcher: this
            # method runs inside Spark's Python source-runner process,
            # where the odin_rs_spark package may not be importable (the
            # class itself travels by-value — see register_rest_source)
            import urllib.request

            url = self.url.format(since=since if since is not None else 0)
            try:
                with urllib.request.urlopen(url, timeout=10.0) as resp:
                    recs = list(json.loads(resp.read().decode("utf-8")) or [])
            except Exception:
                recs = []  # network error → empty poll, retry next trigger (T8)
        idf = self.id_field
        if since is not None:
            skey = _order_key(since)
            recs = [r for r in recs if _order_key(r[idf]) > skey]
        recs.sort(key=lambda r: _order_key(r[idf]))
        return recs

    def _tuples(self, recs: list[dict]) -> Iterator[tuple]:
        # MUST be a list-backed iterator, not a generator: the engine's
        # prefetch cache copy.copy()s the iterator when planning
        # partitions (datasource_internal.getCache), and generators are
        # not copyable — a list_iterator is.
        fields = self._fields
        return iter([tuple(r.get(name) for name in fields) for r in recs])

    # -- SimpleDataSourceStreamReader contract -----------------------------

    def initialOffset(self) -> dict:
        return {"last_id": None}

    def read(self, start: dict):
        last = start.get("last_id")
        recs = self._fetch(last)[: self.batch_limit]
        if not recs:
            return iter([]), start
        end = {"last_id": recs[-1][self.id_field]}
        return self._tuples(recs), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        """Deterministic replay of exactly (start, end] — the engine calls
        this when a prefetched batch must be re-read after a failure; it
        is what upgrades the bridge poller's crash-window reasoning into
        an engine-level guarantee."""
        last_end = end.get("last_id")
        if last_end is None:
            return iter([])
        ekey = _order_key(last_end)
        recs = [r for r in self._fetch(start.get("last_id")) if _order_key(r[self.id_field]) <= ekey]
        return self._tuples(recs)

    def commit(self, end: dict) -> None:
        # nothing to clean: the feed is the retention owner (file keeps
        # history for replay; HTTP server per its own policy)
        pass


def encode_fetcher(fetch_since) -> str:
    """Serialize a `fetch_since(last_id) -> list[dict]` callable for the
    ``fetcher`` option. The reader is instantiated in Spark's Python
    source-runner process, so the callable must travel inside the plan;
    cloudpickle handles closures and module functions alike (the same
    mechanism Spark uses for UDFs)."""
    from pyspark import cloudpickle

    return cloudpickle.dumps(fetch_since).hex()


class RestFeedDataSource(DataSource):
    """`spark.readStream.format("odin_rest")` — see module docstring.

    Options: path | url | fetcher, id_field (default "id"),
    batch_limit (default 10000), schema via ``.schema(ddl)`` (falls back
    to ``id BIGINT, payload STRING``).
    """

    @classmethod
    def name(cls) -> str:
        return "odin_rest"

    def schema(self) -> str:
        return self.options.get("schema") or _DEFAULT_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> _RestFeedReader:
        return _RestFeedReader(schema, self.options)


# drain_polling_source bounds: the most passes one drain runs, and how
# long one pass may run before the drain treats the feed as stalled
_DRAIN_MAX_PASSES = 64
_DRAIN_PASS_TIMEOUT_S = 300.0


def drain_polling_source(start_run, expected_rows: int | None = None) -> int:
    """Drain a polling source to quiescence: repeatedly run one
    Trigger.AvailableNow pass (for a SimpleDataSourceStreamReader each
    pass = exactly one poll, because the engine's availableNow wrapper
    captures the offset of the single prefetched read) until a pass
    lands no new rows. Returns total input rows across passes.

    Every pass after the first RESUMES FROM SPARK'S CHECKPOINT — the
    loop is the restart-recovery path exercised once per poll, which is
    exactly what makes this the in-engine replacement for the bridge
    poller's hand-rolled cursor file. A live deployment instead runs one
    query with a processingTime trigger; this helper is the
    deterministic replay/backfill shape (T1/T11).

    `expected_rows`: when the caller KNOWS the feed's total row count
    (deterministic replay of a bounded feed), the drain stops as soon
    as the checkpointed offsets cover it — each confirming pass is a
    full streaming-query lifecycle (engine + Python source-runner
    startup), so the trailing empty poll is only worth paying for
    feeds whose end is genuinely unknown.
    """
    total = 0
    for i in range(_DRAIN_MAX_PASSES):
        # the early-out requires at least ONE completed pass (i > 0):
        # expected_rows == 0 (an empty feed) must still run the single
        # empty poll so the sink directory exists for the caller's read
        # — the pre-pass return left q118's spark.read.parquet with no
        # directory to read (ADVICE r11)
        if expected_rows is not None and i > 0 and total >= expected_rows:
            return total
        q = start_run()
        finished = q.awaitTermination(_DRAIN_PASS_TIMEOUT_S)
        if not finished:
            # a pass that outlives the timeout is still RUNNING: reading
            # partial progress would under-count, and the next start_run
            # would race this query on the same checkpoint — stop and
            # surface the stall instead
            q.stop()
            raise TimeoutError(
                f"drain pass exceeded {_DRAIN_PASS_TIMEOUT_S}s; query "
                "stopped (the feed stalled or one poll returned too much)"
            )
        rows = sum(int(p["numInputRows"]) for p in (q.recentProgress or []))
        total += rows
        if rows == 0:
            return total
    return total


def register_rest_source(spark, fetch_since=None) -> str | None:
    """Register the source with a session (idempotent). When
    `fetch_since` is given, returns its encoded form for
    ``.option("fetcher", <returned value>)``.

    The module registers itself for BY-VALUE cloudpickling first: the
    registered class is deserialized inside Spark's Python
    source-runner process, whose sys.path does not necessarily include
    this repo (the driver harness runs from its own cwd) — by-value
    serialization makes the source self-contained, the same trick Spark
    itself applies to __main__-defined sources."""
    import sys

    from pyspark import cloudpickle

    mod = sys.modules[register_rest_source.__module__]
    try:
        cloudpickle.register_pickle_by_value(mod)
    except Exception:
        pass  # older cloudpickle: fall back to by-reference (same-path runners)
    spark.dataSource.register(RestFeedDataSource)
    return encode_fetcher(fetch_since) if fetch_since is not None else None
