"""Sources and sinks (SURVEY §2.1, S1-S6).

The reference ingests header CSVs with inferred types
(``explicit_ratings/functions.py:20``) and persists model state as ``.npy``
tensors (``prac_1.py:163-204``). Here every source declares an explicit
schema (no inference — determinism at scale) and model state is Parquet
``(id, features array)`` DataFrames, which is also MLlib's native model
shape.

Checkpoint policy: every lineage cut in the package goes through
``materialize`` (lazy; eager only past ``SCALE_ROWS`` lineitem rows when
the caller passes its ``sf_dir``) or ``materialize_now`` (always eager,
for a frame that must exist before the call returns). No other module
calls ``localCheckpoint``.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Driver-provided star-schema tables (TESTDATA.md / FIXTURES.md §B).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables — always broadcast-join these.
DIMENSION_TABLES = frozenset({"region", "nation", "supplier", "part"})

# Reference-shaped schemas (FIXTURES.md §A). Declared, never inferred.
RATINGS_SCHEMA = T.StructType(
    [
        T.StructField("userId", T.LongType(), False),
        T.StructField("movieId", T.LongType(), False),
        T.StructField("rating", T.DoubleType(), False),
        T.StructField("timestamp", T.LongType(), True),
    ]
)

MOVIES_SCHEMA = T.StructType(
    [
        T.StructField("movieId", T.LongType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("genres", T.StringType(), True),
    ]
)

FACTOR_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), False),
    ]
)

BIAS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("bias", T.DoubleType(), False),
    ]
)


def cache_key(sf_dir: str, *source_tables: str) -> str:
    """12-hex digest identifying ``sf_dir`` AND the identity (size,
    mtime) of the named source parquet files. Derived caches keyed on
    this digest invalidate automatically when the driver regenerates
    the test data — a path-only key would silently serve a stale cache
    while the DuckDB oracle recomputes from the live files."""
    import hashlib

    key = sf_dir
    for t in source_tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        try:
            st = os.stat(p)
            key += f"|{t}:{st.st_size}:{st.st_mtime_ns}"
        except OSError:
            key += f"|{t}:missing"
    return hashlib.sha1(key.encode()).hexdigest()[:12]


_MANIFEST_LOGGED: set[str] = set()


def cache_path(prefix: str, sf_dir: str, *source_tables: str) -> str:
    """Directory under the repo's ``.data_cache`` for a derived artifact
    (fingerprint store, IVF index, bucketed tables), keyed by source
    data identity via ``cache_key``. Derivation constants that change
    the artifact's CONTENT (band counts, caps, k) belong in ``prefix``
    — the data-identity digest only tracks the inputs.

    Each resolved path is recorded (once per process) in
    ``MANIFEST.jsonl`` next to the artifacts: the derivation recipe
    (prefix, sf_dir, tables) is what lets ``gc_data_cache`` recompute
    the CURRENT digest later and reap artifacts stranded by a
    superseded source identity — without the manifest, a digest-named
    dir is unattributable and can only ever accumulate (VERDICT r12
    #6)."""
    import json

    root = _cache_root()
    name = f"{prefix}_{cache_key(sf_dir, *source_tables)}"
    if name not in _MANIFEST_LOGGED:
        _MANIFEST_LOGGED.add(name)
        try:
            os.makedirs(root, exist_ok=True)
            with open(os.path.join(root, "MANIFEST.jsonl"), "a") as fh:
                fh.write(
                    json.dumps(
                        {
                            "dir": name,
                            "prefix": prefix,
                            "sf_dir": sf_dir,
                            "tables": list(source_tables),
                        }
                    )
                    + "\n"
                )
        except OSError:
            pass
    return os.path.join(root, name)


# Prefix families of the persisted derived artifacts (VERDICT r11's
# transparency item: these make heavy queries serve warm, so the bench
# needs a mode that wipes them and measures the cold build).
DERIVED_CACHE_PREFIXES = (
    # cc_round_* is deliberately NOT here: those are per-PID scratch
    # dirs of a LIVE connected-components run, not persisted artifacts
    # — wiping them mid-loop fails a concurrent run (ADVICE r12).
    # Dead-owner round dirs are gc_data_cache's job.
    "ab_catalog",
    "cc_edges",
    "cc_near",
    "cooc_edges",
    "fp_store",
    "ivf_index",
    "lsh_grams",
)


def _cache_root() -> str:
    return os.path.abspath(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".data_cache")
    )


def wipe_derived_cache(prefixes: tuple[str, ...] = DERIVED_CACHE_PREFIXES) -> list[str]:
    """Remove persisted derived-artifact directories so the next run
    rebuilds them from the source parquet — the cold-build bench mode
    (``SPARK_GRAFT_COLD=1``) and the wipe-rebuild correctness test both
    go through here. Never touches the µs-timestamp table cache, the
    sf1/sf10 generated data, or streaming state dirs."""
    import shutil

    root = _cache_root()
    removed: list[str] = []
    if not os.path.isdir(root):
        return removed
    for d in sorted(os.listdir(root)):
        if d.startswith(prefixes):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
            removed.append(d)
    return removed


def gc_data_cache(max_age_hours: float = 24.0) -> list[str]:
    """Sweep session-scoped residue out of ``.data_cache``: package
    zips belonging to dead PIDs (``deploy._build_zip`` writes one per
    process), orphaned streaming ``cdc_state_*`` dirs and per-run CC
    round dirs past ``max_age_hours``. Content-keyed artifacts are NOT
    touched — their staleness is handled by ``cache_key`` + the
    constants-in-prefix rule."""
    import re
    import shutil
    import time

    root = _cache_root()
    removed: list[str] = []
    if not os.path.isdir(root):
        return removed
    now = time.time()
    for d in sorted(os.listdir(root)):
        full = os.path.join(root, d)
        m = re.fullmatch(r"recommender_systems_spark_(\d+)\.zip", d)
        if m:
            pid = int(m.group(1))
            if pid != os.getpid() and not os.path.isdir(f"/proc/{pid}"):
                try:
                    os.remove(full)
                    removed.append(d)
                except OSError:
                    pass
            continue
        m = re.match(r"cc_round[01]_(\d+)_", d)
        if m:
            # Per-run CC round dirs carry their owner PID: a dead owner
            # means the run was killed before its finally-cleanup (the
            # one way they leak) — remove regardless of age.
            pid = int(m.group(1))
            if pid != os.getpid() and not os.path.isdir(f"/proc/{pid}"):
                shutil.rmtree(full, ignore_errors=True)
                removed.append(d)
            continue
        if d.startswith("cdc_state_"):
            try:
                if now - os.stat(full).st_mtime > max_age_hours * 3600:
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(d)
            except OSError:
                pass
    removed += _gc_stale_identities(root, max_age_hours)
    return removed


def _gc_stale_identities(root: str, max_age_hours: float) -> list[str]:
    """Reap content-keyed artifact dirs whose source identity has been
    SUPERSEDED (VERDICT r12 #6): every regenerated sf1/sf10 dataset (or
    driver-refreshed testdata) changes ``cache_key``, stranding the old
    digest's artifacts forever. ``MANIFEST.jsonl`` records each dir's
    derivation recipe (prefix, sf_dir, tables); recomputing the digest
    against the CURRENT files tells live from stale. Age-gated like the
    cdc_state sweep so a dir serving a long-running older process is
    not yanked mid-read; the manifest is compacted to the surviving
    entries."""
    import json
    import shutil
    import time

    manifest = os.path.join(root, "MANIFEST.jsonl")
    if not os.path.exists(manifest):
        return []
    removed: list[str] = []
    entries: dict[str, dict] = {}
    try:
        with open(manifest) as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                    entries[e["dir"]] = e
                except (json.JSONDecodeError, KeyError):
                    continue
    except OSError:
        return []
    now = time.time()
    keep: dict[str, dict] = {}
    for name, e in entries.items():
        full = os.path.join(root, name)
        if not os.path.isdir(full):
            # Not on disk (yet) — keep the recipe: cache_path only
            # appends once per process, so dropping it here could
            # leave a later same-process rebuild unattributed.
            keep[name] = e
            continue
        current = f"{e['prefix']}_{cache_key(e['sf_dir'], *e['tables'])}"
        if name == current:
            keep[name] = e
            continue
        try:
            stale_long_enough = (
                now - os.stat(full).st_mtime > max_age_hours * 3600
            )
        except OSError:
            continue
        if stale_long_enough:
            shutil.rmtree(full, ignore_errors=True)
            removed.append(name)
        else:
            keep[name] = e
    try:
        with open(manifest, "w") as fh:
            for e in keep.values():
                fh.write(json.dumps(e) + "\n")
    except OSError:
        pass
    return removed


def cache_ready(path: str) -> bool:
    """True iff a derived-artifact directory holds a COMPLETE Spark
    write. A write interrupted mid-job leaves the directory present but
    partial; only the committer's ``_SUCCESS`` marker proves the job
    finished, so every cache guard checks the marker, never bare
    ``isdir``."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


_ROW_COUNT_CACHE: dict[tuple[str, str], tuple[tuple, int]] = {}


# Past this many lineitem rows (about sf0.83) a checkpoint is written
# eagerly; see ``materialize``.
SCALE_ROWS = 5_000_000


def materialize(df: DataFrame, sf_dir: str | None = None) -> DataFrame:
    """The engine's one lineage cut (SURVEY §4.3): a ``localCheckpoint``
    that is LAZY unless ``sf_dir``'s lineitem table is past
    ``SCALE_ROWS``.

    Lazy is the default because an eager checkpoint is its own blocking
    count job — a driver barrier per site. A lazy checkpoint still runs
    the plan's shuffle-map stages at the call, and its final stage is
    computed once, by the first job that reads it; every later reader,
    including both sides of a self-join, reads the stored blocks. When
    two concurrent stages read one and a driver GC lands after the first
    stage has cut the lineage, the DAGScheduler logs "attempted to
    access non-existent accumulator": the second stage's SQL-metric
    updates for the cut lineage are dropped. Values are unaffected.

    Past the scale point, several branches of one job that first-compute
    an unmaterialised checkpoint under memory pressure are the sf10
    "Block rdd_N does not exist" failure, so query sites (which pass
    their ``sf_dir``) go eager there. Trainer and operator sites pass no
    ``sf_dir``: their next action is the checkpoint's only first reader.
    A frame whose first readers are several threads, or several
    branches of a trainer's next job, goes through ``materialize_now``.
    The row count comes from the parquet footer — zero Spark jobs.

    Chain form: ``df.transform(materialize, sf_dir)``."""
    eager = sf_dir is not None and table_rows(sf_dir, "lineitem") > SCALE_ROWS
    return df.localCheckpoint(eager=eager)


def materialize_now(df: DataFrame) -> DataFrame:
    """An always-eager ``localCheckpoint``, for a frame that must exist
    before the call returns: its source is overwritten or deleted next,
    other threads read it, or several branches of a trainer's next job
    would first-compute it."""
    return df.localCheckpoint(eager=True)


def scan_splits(sf_dir: str, name: str) -> int:
    """How many tasks a parquet scan of ``name`` can actually produce:
    the ROW-GROUP count from footer metadata (driver-local pyarrow
    read, zero Spark jobs, memoized alongside ``table_rows``). Spark
    assigns parquet row groups to input splits by midpoint, so a file
    with one row group is ONE task no matter how the byte range is
    sliced — the sf0.1 tables are all single-file single-row-group, so
    every scan stage is serial at any core count (round-14 census)."""
    return _footer_sum(f"{sf_dir}/{name}.parquet", "num_row_groups")


def spread_scan(df, sf_dir: str, table: str):
    """Rebalance a CPU-heavy stage fed by a low-parallelism scan (guide
    §2.5 "input skew: one huge unsplittable file — repartition
    immediately after the read"): when the scan's maximum task count
    (row groups, from footer metadata) cannot feed the local cores, pay
    one round-robin exchange of the slim projected rows so the
    downstream kernel (md5 ladders, tokenise+explode, shingle hashing)
    runs on every core. At production scale the scan arrives with
    thousands of row groups and this is a NO-OP — zero added shuffle —
    so it is scale-adaptive by construction, not a local[32] constant.
    Apply AFTER projecting to the columns the kernel needs (§2.3)."""
    sc = df.sparkSession.sparkContext
    if scan_splits(sf_dir, table) * 2 <= sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def table_rows(sf_dir: str, name: str) -> int:
    """Row count of a driver parquet table from footer METADATA — a
    driver-local pyarrow read, zero Spark jobs. Memoized per file
    identity (``file_stamps``): the adaptive-LSH capacity ladders
    (``similarity.ann.adaptive_bits``, ``dedup.minhash.simhash_n_tables``)
    need only this scalar, and an eager ``df.count()`` per query was a
    measured fixed-overhead regression (VERDICT r10 #2). At 100 TB the
    same scalar comes from the table catalog / manifest statistics —
    never from a full scan."""
    return parquet_rows(f"{sf_dir}/{name}.parquet")


def parquet_rows(path: str) -> int:
    """Row count of the parquet file or directory at ``path`` from its
    footers, as ``table_rows``."""
    return _footer_sum(path, "num_rows")


def file_stamps(path: str) -> tuple[tuple[str, int, int], ...]:
    """``(name, st_size, st_mtime_ns)`` of each data file of ``path``: the
    file itself, or a directory's entries that Spark reads (not ``_`` or
    ``.`` prefixed). A Spark overwrite writes part files under new names,
    so any rewrite changes the stamps. Raises ``OSError`` when ``path`` is
    not a local file or directory."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    out = []
    for f in sorted(os.listdir(path)):
        if not f.startswith(("_", ".")):
            st = os.stat(os.path.join(path, f))
            out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(out)


def _footer_sum(path: str, field: str) -> int:
    """Sum of one parquet footer field over ``path``'s files, memoized per
    path while its ``file_stamps`` hold (a rewrite replaces the entry)."""
    stamps = file_stamps(path)
    held = _ROW_COUNT_CACHE.get((field, path))
    if held is None or held[0] != stamps:
        import pyarrow.parquet as pq

        files = (
            [os.path.join(path, f) for f, _, _ in stamps if f.endswith(".parquet")]
            if os.path.isdir(path)
            else [path]
        )
        held = (stamps, sum(getattr(pq.ParquetFile(f).metadata, field) for f in files))
        _ROW_COUNT_CACHE[(field, path)] = held
    return held[1]


class PathMemo:
    """One driver-side value built from the files at one path — a loaded
    model — reused while the path's ``file_stamps`` are unchanged and
    rebuilt once they change, so a rewrite of the path needs no manual
    invalidation. Holds one path's value at a time; a path that is not
    a local file or directory raises ``OSError``."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._key: tuple | None = None
        self._value = None

    def get(self, path: str, build):
        """The value for ``path``'s current files; ``build()`` makes it.
        The stamps are read before the build, so files that change
        during it are seen as changed on the next call."""
        key = (path, file_stamps(path))
        with self._lock:
            if self._key != key:
                self._key, self._value = None, None
                self._value = build()
                self._key = key
            return self._value


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1/S6: read one driver parquet table. Column pruning and predicate
    pushdown reach the scan because callers express plans declaratively.

    Fallback: Spark's parquet reader rejects INT64 TIMESTAMP(NANOS)
    columns (the driver's ``events.ts``); those files are transparently
    rewritten once with nanoseconds truncated to microseconds (exactly
    what DuckDB's reader does) into a local cache, preserving the
    distributed scan path.
    """
    path = f"{sf_dir}/{name}.parquet"
    if _needs_microsecond_copy(path):
        path = _microsecond_copy(path)
    return spark.read.parquet(path)


def _needs_microsecond_copy(path: str) -> bool:
    """Driver-side footer sniff: does this file carry a timestamp[ns]
    column Spark's reader would reject? Costs one local footer read (no
    Spark job) instead of letting ``spark.read`` launch a schema-inference
    job that fails and falls back."""
    if path in _NANOS_CACHE:
        return _NANOS_CACHE[path]
    needs = False
    if os.path.isfile(path):
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq

            schema = pq.read_schema(path)
            needs = any(
                pa.types.is_timestamp(f.type) and f.type.unit == "ns"
                for f in schema
            )
        except Exception:
            needs = False
    _NANOS_CACHE[path] = needs
    return needs


_NANOS_CACHE: dict[str, bool] = {}


def _microsecond_copy(path: str) -> str:
    """Rewrite a parquet file with timestamp[ns] columns cast to
    timestamp[us], cached under the repo. Truncation (not rounding)
    matches DuckDB's ns→us conversion."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    digest = hashlib.sha1(path.encode()).hexdigest()[:12]
    out_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", ".data_cache"
    )
    out = os.path.join(os.path.abspath(out_dir), f"{digest}.parquet")
    if not os.path.exists(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        table = pq.read_table(path)
        fields = []
        for f in table.schema:
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
                fields.append(pa.field(f.name, pa.timestamp("us")))
            else:
                fields.append(f)
        tmp = out + ".tmp"
        pq.write_table(table.cast(pa.schema(fields), safe=False), tmp)
        os.replace(tmp, out)
    return out


def read_ratings_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1: ratings CSV with declared schema (reference:
    explicit_ratings/functions.py:20 uses pd.read_csv with inference)."""
    return spark.read.schema(RATINGS_SCHEMA).option("header", True).csv(path)


def read_movies_csv(spark: SparkSession, path: str) -> DataFrame:
    """S3: movies dim CSV — titles contain commas/quotes, so quoting on."""
    return (
        spark.read.schema(MOVIES_SCHEMA)
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S4: CSV sink (reference: ab_test.py:234 ``to_csv``). ``single_file``
    mirrors pandas' one-file output for small results; large results keep
    their partitioning."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_factors(df: DataFrame, path: str) -> None:
    """S5: model-state sink — Parquet replaces .npy (prac_1.py:163-204)."""
    df.write.mode("overwrite").parquet(path)


# Each frame ``read_factors`` returned, mapped to the path it read.
_FACTOR_PATHS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def read_factors(spark: SparkSession, path: str) -> DataFrame:
    """S6: model-state source (ab_test.py:72-85 ``np.load``). The frame's
    path is recorded (``factors_path``), so serving can hold the model
    on the driver (``ml.foldin``)."""
    df = spark.read.parquet(path)
    _FACTOR_PATHS[df] = path
    return df


def factors_path(df: DataFrame) -> str | None:
    """The path ``read_factors`` read ``df`` from; None for any other
    frame, a frame derived from one included."""
    return _FACTOR_PATHS.get(df)
