"""The watermark-merge sync pipeline — the reference's reason to exist.

Reference protocol (reference session.py:50-65, pypgsync.py:12-13,
README.md:90):

1. low watermark  = ``MAX(dst.updated)``, falling back to
   ``MIN(src.updated)`` when the destination is empty (cold start);
2. high watermark = wall-clock epoch millis captured at run start;
3. read the source delta ``updated BETWEEN low AND high`` in ~10M-row
   slices;
4. upsert each chunk into the destination on the primary key;
5. (continuous mode) sleep and repeat — state lives in the data, so
   every iteration is resumable and idempotent.

Spark-native re-expression: the delta is one bounded DataFrame filter
(Catalyst pushes it to the parquet scan / JDBC source), slices are the
source's partitioning, and the upsert is a declarative last-writer-wins
merge. Order-by-updated application (reference session.py:126-133) is
unnecessary: the merge is order-free with the same fixed point.

Every delta version is >= the low watermark, which is the
destination's MAX, so the delta wins every key it carries: the merge
(``operators.merge.delta_wins_merge``) shuffles only the delta, and a
pass whose delta holds nothing but unchanged boundary rows writes no
generation.

``SyncedTable`` abstracts the destination store. The parquet
implementation here is the test substrate; a Delta/Iceberg MERGE INTO
or the ``pypgsync_upsert`` SQL sink (sources/pysource.py) are drop-in
alternatives at deploy time. Like a table format's commit log, each
parquet generation carries a small commit file (``_commit.json``: the
written schema and, from ``sync_table``, the version column's MAX), so
reading the store infers no schema and the next pass's low watermark
needs no scan.

The commit also lists the source files the pass consumed, as
``{path: [size, mtime]}`` (the seen-files log of Spark's own
``FileStreamSource``, kept in the commit the way Delta Lake keeps its
file list). When the source is a plain parquet scan, the next pass
compares its listing with the record: an unchanged listing ends the pass
with no Spark job (``delta_rows`` 0), and a listing that only gained
files reads just the new ones. Skipping a consumed file is exact: a
pass records its listing only when no row of its files lies above its
high watermark, so every row of a recorded file is at or below the
committed MAX (or below an earlier low watermark, which the protocol
skips anyway), and a re-read would find only boundary rows already
merged. A pass that reads new files but changes no row (late rows
below the watermark, unchanged boundary rows) records their listing by
rewriting the current commit file alone.
"""

from __future__ import annotations

import itertools
import json
import time
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pypgsync_spark.operators.merge import (
    delta_wins_merge,
    latest_per_key,
    upsert_merge,  # noqa: F401  (re-exported for streaming/continuous.py)
)

COMMIT_FILE = "_commit.json"


def now_millis() -> int:
    """High watermark stamp (reference pypgsync.py:13)."""
    return int(time.time() * 1000)


def low_watermark(dst: DataFrame | None, src: DataFrame, column: str) -> int | None:
    """``MAX(dst.col)`` else ``MIN(src.col)`` (reference session.py:50-65).

    Returns None when the source is empty too (nothing to sync).
    Both are single-row aggregates over a full column scan;
    :func:`sync_table` skips the destination's when the store's commit
    file records the MAX.
    """
    if dst is not None:
        row = dst.agg(F.max(column).alias("wm")).first()
        if row is not None and row["wm"] is not None:
            return int(row["wm"])
    row = src.agg(F.min(column).alias("wm")).first()
    if row is None or row["wm"] is None:
        return None
    return int(row["wm"])


@dataclass
class SyncStats:
    """One pass. ``delta_rows``: source rows read (boundary re-reads
    included); 0 when :func:`sync_table` finds the source's file listing
    unchanged since the last commit, and only the new files' rows when
    it only gained files. ``delta_max``: their MAX version — the
    destination's new watermark. ``rows_changed``: delta rows the
    destination does not already hold (see :func:`sync_once`); 0 when
    the delta changes nothing. ``wrote``: whether :func:`sync_table`
    committed a new generation (:func:`sync_once` itself never writes).
    ``rows_above_high``: source rows newer than ``high``, left for a
    later pass; None when not counted (a ``pushdown_cond`` bounds the
    scan, or no delta was read)."""

    low: int | None
    high: int
    delta_rows: int
    delta_max: int | None = None
    rows_changed: int = 0
    wrote: bool = False
    rows_above_high: int | None = None


def extract_delta(
    src: DataFrame,
    column: str,
    low: int | None,
    high: int,
    pushdown_cond=None,
) -> DataFrame:
    """The bounded source read: ``low <= col <= high`` (closed range,
    reference session.py:129-132). Low-inclusive re-reads the boundary
    rows (version == low), so a row that shares the watermark's version
    but arrived after the last pass is not missed; :func:`sync_once`
    checks such rows against the destination, and a pass that re-reads
    only unchanged boundary rows writes nothing.

    ``pushdown_cond(low, high) -> Column``: optional extra predicate on
    a RAW storage column, exactly equivalent to the version-column
    range. When ``column`` is derived (e.g. ``updated_ms`` computed
    from a nanos timestamp), the derived filter cannot reach the
    parquet scan; the transposed raw predicate restores row-group
    skipping (see functions.time.nanos_range_pred). When ``column`` is
    stored directly, no hook is needed — Catalyst pushes it as-is.
    """
    cond = F.col(column) <= F.lit(high)
    if low is not None:
        cond = (F.col(column) >= F.lit(low)) & cond
    if pushdown_cond is not None:
        cond = cond & pushdown_cond(low, high)
    return src.filter(cond)


def _has_map(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.MapType):
        return True
    if isinstance(dtype, T.ArrayType):
        return _has_map(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return any(_has_map(f.dataType) for f in dtype.fields)
    return False


# Microsecond timestamps in the JSON form of map-bearing columns, so two
# values that differ below the millisecond never compare equal.
_JSON_OPTS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def _boundary_changes(delta: DataFrame, dst: DataFrame, version_col: str, low: int) -> int:
    """Rows of a boundary-only delta (every row at version ``low``) that
    the destination does not already hold: one all-column null-safe
    left-anti join against the destination's rows at that version.
    Spark has no equality on maps, so a map-bearing column compares by
    its JSON text — a different entry order reads as a change, which
    costs a write, never a missed update."""
    def val(side: str, field: T.StructField):
        c = F.col(f"{side}.{field.name}")
        return F.to_json(c, _JSON_OPTS) if _has_map(field.dataType) else c

    same = [val("s", f).eqNullSafe(val("d", f)) for f in dst.schema.fields]
    at_low = dst.filter(F.col(version_col) == F.lit(low))
    s = delta.select(*dst.columns).alias("s")
    return s.join(at_low.alias("d"), same, "left_anti").count()


def _fits_broadcast(df: DataFrame, rows: int) -> bool:
    """Whether ``rows`` rows of ``df`` fit Spark's broadcast threshold at
    the schema's default row size. The planner sizes a filtered source
    by its whole files; the delta's exact row count is known here."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    return rows * df._jdf.schema().defaultSize() <= conf.autoBroadcastJoinThreshold()


def sync_once(
    src: DataFrame,
    dst: DataFrame | None,
    keys: list[str],
    version_col: str,
    high: int | None = None,
    pushdown_cond=None,
    dst_max: int | None = None,
) -> tuple[DataFrame, SyncStats]:
    """One sync iteration: watermark → delta → merge. Returns the merged
    destination DataFrame (caller persists it) plus stats.

    ``pushdown_cond`` — see :func:`extract_delta`.
    ``dst_max``: the destination's ``MAX(version_col)`` when the caller
    already knows it (a store's commit file); skips that scan.

    One aggregate over the source's rows at or above the low watermark
    gives the delta's row count, its MAX version, how many of its rows
    are newer than the low watermark and how many source rows lie above
    ``high``; the scan filter keeps only the low bound, so a parquet
    source still skips row groups below it. When the MAX
    equals the low watermark the delta holds only boundary rows, and
    :func:`_boundary_changes` counts those the destination lacks; if
    there are none, ``rows_changed`` is 0 and the returned frame is
    ``dst`` itself. Otherwise ``rows_changed`` counts the rows newer
    than the watermark (a mixed pass rewrites its boundary rows without
    checking them, and does not count them); on a cold start (no
    ``dst``) it counts the delta's distinct keys, and the delta is
    collapsed to its latest row per key only when it has fewer keys
    than rows. A cold start without ``pushdown_cond`` scans the whole
    source, and the same aggregate reads its MIN version as the low
    watermark (:func:`low_watermark`'s answer, without its own job).
    """
    if not keys:
        # a cold start would otherwise keep one row of the whole delta
        raise ValueError("merge requires at least one key column")
    high = high if high is not None else now_millis()

    def no_op(low):
        # no-op short-circuit (reference session.py:216-218)
        empty = dst if dst is not None else src.limit(0)
        return empty, SyncStats(low=low, high=high, delta_rows=0)

    # a cold start's low watermark is MIN(src), which keeps every row:
    # the one aggregate below reads it instead of a scan of its own
    cold = dst is None and pushdown_cond is None
    low = None
    if dst is not None and dst_max is not None:
        low = dst_max
    elif not cold:
        low = low_watermark(dst, src, version_col)
    if not cold and (low is None or low > high):
        return no_op(low)
    in_window = F.col(version_col) <= F.lit(high)
    if pushdown_cond is None:
        scan = src if cold else src.filter(F.col(version_col) >= F.lit(low))
        delta = scan.filter(in_window)
    else:
        # the raw predicate bounds both ends; rows above ``high`` are
        # not counted
        scan = delta = extract_delta(src, version_col, low, high, pushdown_cond)
    aggs = [
        F.count(F.when(in_window, 1)).alias("n"),
        F.max(F.when(in_window, F.col(version_col))).alias("mx"),
        F.count(F.when(~in_window, 1)).alias("above"),
    ]
    if cold:
        aggs.append(F.min(version_col).alias("low"))
    else:
        aggs.append(
            F.count(F.when(in_window & (F.col(version_col) > F.lit(low)), 1)).alias("newer")
        )
    if dst is None:
        # a cold start must not commit two versions of one key; the
        # distinct-key count says whether the delta holds any
        aggs.append(F.count_distinct(F.when(in_window, F.struct(*keys))).alias("keys"))
    agg = scan.agg(*aggs).first()
    if cold:
        low = agg["low"]
        if low is None or low > high:
            return no_op(low)
        low = int(low)
    delta_rows, delta_max = agg["n"], agg["mx"]
    if dst is None:
        rows_changed = agg["keys"]
        merged = delta
        if rows_changed < delta_rows:
            merged = latest_per_key(delta, keys, version_col)
    else:
        if delta_rows == 0:
            rows_changed = 0
        elif delta_max == low:
            rows_changed = _boundary_changes(delta, dst, version_col, low)
        else:
            rows_changed = agg["newer"]
        merged = dst
        if rows_changed:
            bcast = _fits_broadcast(delta.select(*keys), delta_rows)
            merged = delta_wins_merge(dst, delta, keys, version_col, broadcast_keys=bcast)
    stats = SyncStats(
        low=low, high=high, delta_rows=delta_rows,
        delta_max=None if delta_max is None else int(delta_max),
        rows_changed=rows_changed,
        rows_above_high=None if pushdown_cond is not None else agg["above"],
    )
    return merged, stats


def _exception_is(exc: Exception, name: str) -> bool:
    """True iff a Py4J-surfaced Java exception, or any link in its cause
    chain, is of a class whose name ends with ``name``. Two callers:

    - ``UnsupportedFileSystemException``: the one pointer-flip failure
      that means "this scheme has no AbstractFileSystem binding, use the
      PUT fallback". Any other failure must propagate (ADVICE r7: a
      transient rename failure must NOT trigger an in-place truncate of
      the live pointer on a rename-capable filesystem).
    - ``FileNotFoundException``: the dangling-pointer case
      ``vacuum_store`` tolerates as a no-op. Anything else (auth
      failure, transient IO, misconfigured path) must propagate:
      silently turning those into a no-op vacuum lets storage grow
      unboundedly with no signal (ADVICE r9)."""
    j = getattr(exc, "java_exception", None)
    if j is None:
        # No Java chain to inspect (plain Python failure, e.g. the
        # FileContext classes missing from the gateway) — the string
        # probe is all there is.
        return name in str(exc)
    while j is not None:
        try:
            if j.getClass().getName().endswith(name):
                return True
            j = j.getCause()
        except Exception:
            # Chain walk broke mid-way (gateway hiccup) — fall back to
            # the string probe rather than guessing either way.
            return name in str(exc)
    # A FULLY walked chain without the class is authoritative: do NOT
    # let a rendered stack trace that merely quotes the class name
    # (suppressed exceptions, remote-side messages) re-classify the
    # failure — for the PUT fallback that would truncate the live
    # pointer in place, the exact hazard ADVICE r7 closed.
    return False


class ParquetSyncedTable:
    """Parquet-backed destination store for the sync loop.

    Writes to an alternating pair of subdirectories so a crash mid-write
    never corrupts the readable copy (poor man's table-format commit;
    production would use Delta/Iceberg, or the JDBC upsert sink where
    Postgres itself is the store).

    Each generation directory also holds a commit file,
    ``_commit.json``, written after the parquet files and before the
    pointer flip (the underscore hides it from Spark's file listing):
    the written schema as JSON, plus ``version_col`` and its
    ``max_version`` when the writer passes them. ``read()`` reads with
    that schema instead of running a schema-inference job, and
    ``sync_table`` takes its low watermark from the recorded
    ``max_version`` (read off :meth:`head`) without a scan — Delta
    Lake's design of keeping schema and statistics in the commit
    instead of re-deriving them from the data files. ``sync_table`` also records the source files the generation
    consumed (``source_files``, ``{path: [size, mtime]}``), so its next
    pass can skip an unchanged source or read only new files, and
    ``compact_store`` carries both records over. A generation without
    the file (older stores, other writers) is read by inference, its
    watermark comes from a scan, and its next pass reads the whole
    source. :meth:`head` reads ``_CURRENT`` and the commit file once
    for a whole pass.

    All ``_CURRENT`` pointer I/O goes through the Hadoop FileSystem
    resolved for the destination URI's scheme (r6 verdict #6 — the last
    local-FS-only writer in the sync path): the alternating-directory
    commit survives an hdfs:// or s3a:// destination, matching
    sources/partitioned.py's pattern. The pointer flip, and the
    commit-file rewrite of :meth:`record_source_files`, is a temp file
    plus a FileContext rename with Options.Rename.OVERWRITE — atomic on
    HDFS/local; object stores usually lack the AbstractFileSystem
    binding FileContext needs, so the flip falls back to an
    overwrite-create of the small file, which on a PUT-semantics
    store is itself atomic (readers observe old or new content, never
    a torn directory).
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self._ptr = f"{self.path}/_CURRENT"
        # JVM classes resolved once per store: each step of a
        # ``spark._jvm`` walk is a Py4J round trip
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._BufferedReader = jvm.java.io.BufferedReader
        self._InputStreamReader = jvm.java.io.InputStreamReader
        self._FileContext = jvm.org.apache.hadoop.fs.FileContext
        self._Rename = jvm.org.apache.hadoop.fs.Options.Rename
        self._hconf = spark._jsc.hadoopConfiguration()
        self._filesystem = None

    def _jpath(self, uri: str):
        return self._Path(uri)

    def _fs(self, jpath):
        # every path a store touches lies under its root: one FileSystem
        if self._filesystem is None:
            self._filesystem = jpath.getFileSystem(self._hconf)
        return self._filesystem

    def _read_line(self, uri: str) -> str | None:
        """First line of a small file, or None when it does not exist."""
        p = self._jpath(uri)
        fs = self._fs(p)
        if not fs.exists(p):
            return None
        reader = self._BufferedReader(self._InputStreamReader(fs.open(p)))
        try:
            return reader.readLine()
        finally:
            reader.close()

    def _put(self, jpath, text: str) -> None:
        out = self._fs(jpath).create(jpath, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def _current(self) -> str | None:
        name = self._read_line(self._ptr)
        if not name:
            return None
        return f"{self.path}/{name.strip()}"

    def _commit(self, gen: str) -> dict | None:
        text = self._read_line(f"{gen}/{COMMIT_FILE}")
        return json.loads(text) if text else None

    def head(self) -> tuple[str | None, dict | None]:
        """The current generation's path and its commit file, each read
        once: ``(None, None)`` with no generation, ``(gen, None)`` for
        one written without a commit file."""
        cur = self._current()
        return cur, None if cur is None else self._commit(cur)

    def read(self, head: tuple[str | None, dict | None] | None = None) -> DataFrame | None:
        """The current generation, or None. ``head``: a :meth:`head`
        result the caller already holds, so neither small file is read
        again."""
        cur, meta = self.head() if head is None else head
        if cur is None:
            return None
        if meta is not None:
            schema = T.StructType.fromJson(meta["schema"])
            return self.spark.read.schema(schema).parquet(cur)
        p = self._jpath(cur)
        if not self._fs(p).exists(p):
            return None
        return self.spark.read.parquet(cur)

    def write(
        self,
        df: DataFrame,
        version_col: str | None = None,
        max_version: int | None = None,
        source_files: dict[str, list[int]] | None = None,
    ) -> None:
        """Commit ``df`` as the next generation. ``version_col`` and
        ``max_version`` (its MAX over ``df``, which the caller vouches
        for) go into the commit file; given ``version_col`` alone, the
        write observes the MAX while it writes (``DataFrame.observe``:
        no extra job) and records it when it is an integer.
        ``source_files``: the source listing this generation has
        consumed (see :func:`sync_table`), recorded with the
        watermark."""
        cur = self._current()
        nxt = "a" if cur is None or cur.endswith("b") else "b"
        gen = f"{self.path}/{nxt}"
        observed = None
        if version_col is not None and max_version is None:
            observed = Observation()
            df = df.observe(observed, F.max(version_col).alias("mx"))
        df.write.mode("overwrite").parquet(gen)
        if observed is not None:
            mx = observed.get["mx"]
            # a watermark is an integral version (a timestamp column
            # streams fine but records none)
            max_version = mx if isinstance(mx, int) else None
        meta = {"schema": df.schema.jsonValue()}
        if version_col is not None and max_version is not None:
            meta.update(version_col=version_col, max_version=int(max_version))
            if source_files:
                meta["source_files"] = source_files
        self._put(self._jpath(f"{gen}/{COMMIT_FILE}"), json.dumps(meta))
        self._replace(self._ptr, nxt)

    def record_source_files(
        self, head: tuple[str | None, dict | None], source_files: dict[str, list[int]]
    ) -> None:
        """Rewrite the current generation's commit file with a new
        source listing, keeping everything else it records: for a pass
        that consumed new files but changed no row, so it writes no
        generation. ``head``: the :meth:`head` the pass read. No Spark
        job; the rewrite is atomic like the pointer flip."""
        gen, meta = head
        meta = {**meta, "source_files": source_files}
        self._replace(f"{gen}/{COMMIT_FILE}", json.dumps(meta))

    def _replace(self, uri: str, text: str) -> None:
        """Replace the small file at ``uri`` with ``text`` so that a
        reader sees the old content or the new, never a torn file."""
        tmp = self._jpath(uri + ".tmp")
        fs = self._fs(tmp)
        self._put(tmp, text)
        try:
            # HDFS/local: FileContext rename(OVERWRITE) replaces the
            # file atomically.
            fc = self._FileContext.getFileContext(self._hconf)
            gw = self.spark.sparkContext._gateway
            overwrite = gw.new_array(self._Rename, 1)
            overwrite[0] = self._Rename.OVERWRITE
            fc.rename(tmp, self._jpath(uri), overwrite)
        except Exception as exc:
            # The fallback is ONLY for schemes with no AbstractFileSystem
            # binding (object stores: FileContext cannot resolve the
            # path) — there, overwrite-create IS the atomic primitive (a
            # PUT: readers observe old or new bytes, never a tear), and
            # rename would only degrade to copy+delete anyway. Any OTHER
            # failure (transient HDFS/local rename error) must
            # propagate: truncating the live file on a rename-capable
            # filesystem would expose a torn/empty pointer or commit
            # file to concurrent readers, breaking the never-torn
            # contract above.
            if not _exception_is(exc, "UnsupportedFileSystemException"):
                raise
            self._put(self._jpath(uri), text)
            fs.delete(tmp, False)


def _recorded(meta: dict | None, version_col: str, field: str):
    """A commit-file field that is only meaningful for the version
    column it was recorded with; None when absent or recorded for
    another column."""
    if not meta or meta.get("version_col") != version_col:
        return None
    return meta.get(field)


def _source_files(src: DataFrame) -> dict[str, list[int]] | None:
    """``{path: [size, mtime]}`` of the files ``src`` scans, read off its
    own file index (no Spark job); None unless ``src`` is a plain,
    unpartitioned parquet scan that lists at least one file. Anything
    derived (a filter, a projection, a join), in-memory or partitioned
    is None, and its passes take the watermark path. The listing costs
    a few Py4J round trips per file."""
    plan = src._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
        or rel.partitionSchema().length() > 0
        or rel.location().getClass().getSimpleName() != "InMemoryFileIndex"
    ):
        return None
    statuses = rel.location().allFiles()
    out = {}
    for i in range(statuses.length()):
        st = statuses.apply(i)
        out[st.getPath().toString()] = [st.getLen(), st.getModificationTime()]
    return out or None


def sync_table(
    src: DataFrame,
    store: ParquetSyncedTable,
    keys: list[str],
    version_col: str,
    high: int | None = None,
) -> SyncStats:
    """One full iteration against a persistent destination — the body of
    the reference's ``merge_chunks`` orchestrator (session.py:111-160).

    The low watermark comes from the store's commit file when it
    records one (else a scan), and the new generation's commit records
    the delta's MAX as the next one. A pass whose delta changes nothing
    writes no generation (``stats.wrote`` is False); when it read files
    the commit does not list yet, it only rewrites the current commit
    file's listing, so later passes skip them.

    When ``src`` is a plain parquet scan, the commit also records its
    file listing, provided no row of the scan lies above ``high``. The
    next pass compares the listing with that record: the same listing
    returns ``delta_rows == 0`` with no Spark job; a listing that only
    gained files reads just those files, with the same ``low <= v <=
    high`` window; any other difference (a file changed in place or
    removed) reads the whole source. A file is compared by size and
    modification time, as Spark's own file index does."""
    head = store.head()
    meta = head[1]
    committed = _recorded(meta, version_col, "max_version")
    files = _source_files(src)
    seen = _recorded(meta, version_col, "source_files")
    scan = src
    if files and seen:
        if files == seen:
            # the per-file form of the reference's low > high skip
            # (session.py:216-218)
            high = high if high is not None else now_millis()
            return SyncStats(low=committed, high=high, delta_rows=0)
        if all(files.get(p) == v for p, v in seen.items()):
            new = [p for p in files if p not in seen]
            scan = src.sparkSession.read.schema(src.schema).parquet(*new)
    dst = store.read(head)
    merged, stats = sync_once(
        scan, dst, keys, version_col, high=high,
        dst_max=None if dst is None else committed,
    )
    consumed = files if stats.rows_above_high == 0 else None
    if stats.rows_changed > 0 or dst is None:
        store.write(merged, version_col, stats.delta_max, source_files=consumed)
        stats.wrote = True
    elif consumed and consumed != seen and committed is not None:
        # new files that changed nothing: record them, or every later
        # pass reads them again
        store.record_source_files(head, consumed)
    return stats


def sync_continuous(
    src_loader,
    store: ParquetSyncedTable,
    keys: list[str],
    version_col: str,
    iterations: int,
    delay_seconds: float = 5.0,
    sleep=time.sleep,
) -> Iterator[SyncStats]:
    """Continuous mode, the reference's ``while True: sync();
    sleep(delay)`` loop (reference cli.py:80-97, default delay 5 s at
    cli.py:72-74): yields each pass's stats. ``iterations`` > 0 bounds
    the loop; 0 runs until the caller stops iterating or an interrupt
    ends it. ``src_loader()`` re-reads the source each iteration so new
    files/rows are visible. For the Structured-Streaming-native form
    see streaming/continuous.py.
    """
    for i in itertools.count(1):
        yield sync_table(src_loader(), store, keys, version_col)
        if i == iterations:
            return
        sleep(delay_seconds)


def compact_store(
    store: "ParquetSyncedTable", target_file_bytes: int = 128 << 20
) -> dict:
    """Small-file compaction (the lakehouse OPTIMIZE): rewrite the
    store's current generation into ``ceil(bytes / target_file_bytes)``
    files and flip the ``_CURRENT`` pointer through the same atomic
    commit every sync write uses — readers never observe a torn table.

    Why it exists: every incremental sync rewrites the merge output
    with shuffle-partition-many files regardless of size, so a
    frequently-synced small table accumulates hundreds of KB-scale
    files and scan cost becomes file-open cost (the classic small-file
    problem; at 100 TB the same arithmetic picks ~128 MB targets so
    row-group pruning still has room to work inside each file).
    ``coalesce`` (not ``repartition``) does the rewrite — a map-only
    merge of existing partitions, no shuffle of table data.

    Returns ``{"files_before", "files_after", "bytes", "compacted"}``;
    a store already at or below the target count is left untouched.
    """
    import math

    head = store.head()
    cur, meta = head
    if cur is None:
        return {"files_before": 0, "files_after": 0, "bytes": 0, "compacted": False}
    p = store._jpath(cur)
    fs = store._fs(p)
    try:
        statuses = list(fs.listStatus(p))
    except Exception as e:
        if _exception_is(e, "FileNotFoundException"):
            # dangling pointer (current generation directory missing) —
            # the state read() tolerates as None and vacuum_store as a
            # no-op; compaction likewise has nothing to rewrite (r10
            # review: this previously crashed while its siblings
            # degraded gracefully)
            return {"files_before": 0, "files_after": 0, "bytes": 0, "compacted": False}
        raise
    parts = [
        s
        for s in statuses
        if s.getPath().getName().endswith(".parquet")
    ]
    total = sum(s.getLen() for s in parts)
    n_target = max(1, math.ceil(total / target_file_bytes))
    if len(parts) <= n_target:
        return {
            "files_before": len(parts),
            "files_after": len(parts),
            "bytes": total,
            "compacted": False,
        }
    # same rows, same MAX: carry the watermark and the consumed source
    # listing, so the next pass needs no scan and reads no old file
    meta = meta or {}
    store.write(
        store.read(head).coalesce(n_target),
        meta.get("version_col"),
        meta.get("max_version"),
        meta.get("source_files"),
    )
    new = store._jpath(store._current())
    n_after = sum(
        1
        for s in store._fs(new).listStatus(new)
        if s.getPath().getName().endswith(".parquet")
    )
    return {
        "files_before": len(parts),
        "files_after": n_after,
        "bytes": total,
        "compacted": True,
    }


def vacuum_store(store: "ParquetSyncedTable") -> list[str]:
    """Delete superseded generation directories (the lakehouse
    VACUUM): the alternating a/b commit keeps exactly one stale copy —
    useful as a crash-recovery fallback, pure storage cost once the
    pointer flip is durable. Never touches the current generation or
    the pointer; returns the deleted paths.

    Single-writer assumption (same as the store's commit protocol):
    one process writes a given store at a time. As a belt-and-braces
    guard for an interrupted writer, directories at least as new as
    the current generation are SKIPPED — a crashed write that produced
    a generation but never flipped ``_CURRENT`` is newer than the
    current one and therefore never reclaimed here; only generations
    the pointer has durably superseded (strictly older) are deleted.
    On stores without meaningful directory mtimes (S3A reports 0 for
    synthesized directory entries) — or whose mtime granularity is
    coarser than the write-to-write gap, making the timestamps equal —
    the strict comparison degrades in the SAFE direction: nothing
    compares strictly older, so vacuum becomes a no-op rather than
    ever reclaiming an in-flight write. A dangling pointer (current
    generation directory missing — the state ``read()`` tolerates by
    returning None) is likewise a no-op, not a crash.
    """
    cur = store._current()
    if cur is None:
        return []
    keep = {cur.rsplit("/", 1)[-1], "_CURRENT"}
    root = store._jpath(store.path)
    fs = store._fs(root)
    try:
        cur_mtime = fs.getFileStatus(store._jpath(cur)).getModificationTime()
    except Exception as e:
        if _exception_is(e, "FileNotFoundException"):
            # dangling pointer: nothing is provably superseded — do not
            # guess which directory is safe to delete
            return []
        # Any OTHER failure (auth, transient IO, misconfiguration) must
        # surface — a silent no-op here means storage grows unboundedly
        # with no signal (ADVICE r9).
        raise
    deleted: list[str] = []
    for s in fs.listStatus(root):
        name = s.getPath().getName()
        if (
            s.isDirectory()
            and name not in keep
            and s.getModificationTime() < cur_mtime
        ):
            fs.delete(s.getPath(), True)
            deleted.append(name)
    return deleted
