"""Lifecycle of what the engine leaves behind: repeat calls add no temp
views, scratch areas or cached blocks; every key runs on a configured
session, and per-session state follows the session and the corpus it
was built from; the per-process scratch root is removed at exit and
swept once its process is gone; concurrent staged builds never see each
other's half-built directories; an op whose stream fails leaves confs
and streams as it found them; UDF kernels run where workers cannot
import engine; the curation_ingest ops compile their generated classes
once and fit a codegen-cache budget."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time

import statistics

import pytest

import engine
from engine.core import scoped_sql_conf, scratch_path, staged_build_once
from tests.conftest import SF_DIR, SMOKE_SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "key",
    [
        "stream_dedup_state",
        "sink_parquet_partitioned",
        "text_bm25_topk",
        "sim_ivf_topk",
    ],
)
def test_repeat_calls_leave_no_residue(spark, key):
    """From call 2 to call 5 of one key, the temp-view count, the entries
    under this process's scratch root and the cached RDD bytes stay
    flat: a repeat call replaces its predecessor's sink, checkpoint and
    blocks instead of adding new ones.  A frame from call 1 still reads
    what it was resolved against, except a file sink's, whose rewrite
    deletes the files it listed."""

    def residue():
        views = [t for t in spark.catalog.listTables() if t.isTemporary]
        root = scratch_path("")
        areas = os.listdir(root) if os.path.isdir(root) else []
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        cached = sum(i.memSize() + i.diskSize() for i in infos)
        return len(views), len(areas), cached

    run = engine.QUERIES[key]
    first = run(spark, SF_DIR)
    first_rows = sorted(first.collect())
    run(spark, SF_DIR).collect()
    after_second = residue()
    for _ in range(3):
        last = run(spark, SF_DIR)
        last_rows = sorted(last.collect())
    assert residue() == after_second
    assert first_rows == last_rows
    if not key.startswith("sink_"):
        assert sorted(first.collect()) == last_rows


def _cached_rdds(spark) -> set:
    """Ids of the RDDs that hold cached blocks."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


@pytest.mark.parametrize(
    "key",
    [
        "graph_reachability_roots",
        "graph_kcore_decompose",
        "dedup_connected_components",
        "sim_pq_adc_topk",
        "pipeline_embedding_dedup",
        "pipeline_embedding_dedup_polyhash",
    ],
)
def test_fixpoint_keys_keep_one_checkpoint_per_call(spark, key):
    """A key whose rounds run in core.fixpoint keeps at most one
    checkpoint per call, the returned round's, which its frame reads:
    from call 2 to call 5 the cached RDD count grows by at most 1 per
    call, and the frame of call 1 still reads its rows.  Without the
    harness every round's checkpoint stayed until the JVM's
    ContextCleaner collected it."""
    run = engine.QUERIES[key]
    first = run(spark, SF_DIR)
    first_rows = sorted(first.collect())
    run(spark, SF_DIR).collect()
    after_second = len(_cached_rdds(spark))
    for n in range(1, 4):
        run(spark, SF_DIR).collect()
        assert len(_cached_rdds(spark)) <= after_second + n
    assert sorted(first.collect()) == first_rows


@pytest.mark.parametrize("preset", ["3", None])
def test_fixpoint_cap_raises_and_frees_its_rounds(spark, preset):
    """A loop that does not converge within its cap raises, names the
    loop, leaves the conf map as it was (shuffle partitions set or
    unset before the call) and frees every round it checkpointed."""
    from pyspark.sql import functions as F

    from engine.core import fixpoint

    key = "spark.sql.shuffle.partitions"
    held = spark.conf.get(key)
    try:
        if preset is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, preset)
        confs = spark.conf.getAll
        before = _cached_rdds(spark)
        seed = spark.range(100).select(F.col("id").alias("x"))
        with pytest.raises(RuntimeError, match="never-converging test loop"):
            fixpoint(
                spark, seed, lambda df: df.select((F.col("x") + 1).alias("x")),
                max_iters=3,
                probe=lambda df: df.agg(F.sum("x")).first()[0],
                what="never-converging test loop",
            )
        assert spark.conf.getAll == confs
        assert spark.conf.get(key, None) == preset
        assert _cached_rdds(spark) <= before
    finally:
        spark.conf.set(key, held)


def _forks_so_far():
    """The host's count of processes forked since boot, or None where
    /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("processes "):
                    return int(line.split()[1])
    except OSError:
        return None


def test_stream_warm_calls_leave_no_state_threads_confs_or_forks(spark):
    """Warm calls of a stateful stream key leave no checksum-manager
    thread of a loaded state-store provider behind, leave the session's
    conf map as it was, and fork few processes: on a JVM without
    libhadoop the default checkpoint manager forked a `readlink` per
    rename and a `chmod` per create (~870 processes and threads per
    call).  /proc/stat counts the whole host, so the bound is on the
    median of three calls."""
    run = engine.QUERIES["stream_dedup_state"]
    run(spark, SF_DIR).collect()
    confs = spark.conf.getAll
    forks = []
    for _ in range(3):
        before = _forks_so_far()
        run(spark, SF_DIR).collect()
        if before is not None:
            forks.append(_forks_so_far() - before)
    threads = spark.sparkContext._jvm.java.lang.Thread.getAllStackTraces()
    left = [
        t.getName()
        for t in threads.keySet().toArray()
        if t.isAlive() and t.getName().startswith("ChecksumCheckpointFileManager")
    ]
    assert left == []
    assert spark.conf.getAll == confs
    if forks:
        assert statistics.median(forks) < 400, forks


def test_scoped_sql_conf_restores_set_and_unset_keys(spark):
    """A key unset before the scope is unset after it, and a set key
    gets its value back, also when the body raises."""
    unset = "spark.sql.sources.partitionOverwriteMode"
    held = "spark.sql.shuffle.partitions"
    assert spark.conf.get(unset, None) is None
    value = spark.conf.get(held, None)
    assert value is not None
    flipped = str(int(value) + 1)
    with scoped_sql_conf(spark, {unset: "dynamic", held: flipped}):
        assert spark.conf.get(unset) == "dynamic"
        assert spark.conf.get(held) == flipped
    assert spark.conf.get(unset, None) is None
    assert spark.conf.get(held) == value
    with pytest.raises(RuntimeError):
        with scoped_sql_conf(spark, {unset: "dynamic", held: flipped}):
            raise RuntimeError("body fails")
    assert spark.conf.get(unset, None) is None
    assert spark.conf.get(held) == value


def test_a_key_configures_a_fresh_session(spark):
    """The registry configures the session before every key, so a key
    that reads nothing through io.load sees the same session as one
    that does, whichever keys ran before it."""
    fresh = spark.newSession()
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    assert fresh.conf.get(nanos, None) != "true"
    engine.QUERIES["source_range_synthetic"](fresh, SF_DIR).collect()
    assert fresh.conf.get(nanos) == "true"


def test_register_views_follows_the_last_sf_dir(spark):
    """sf A → B → A: the views read A's tables again after the last
    call (an entry per sf_dir would hit A's stale entry while the views
    still named B's tables)."""
    from engine.io import register_views

    other = spark.newSession()

    def n_lineitem():
        return other.sql("SELECT count(*) FROM lineitem").first()[0]

    register_views(other, SF_DIR)
    n_a = n_lineitem()
    register_views(other, SMOKE_SF_DIR)
    assert n_lineitem() != n_a
    register_views(other, SF_DIR)
    assert n_lineitem() == n_a


def test_reachability_guard_probes_a_regenerated_corpus(spark, tmp_path):
    """A corpus regenerated in a live session with a gap in doc_id is
    probed again and raises, instead of the ancestor join silently
    dropping the subtree under the missing id."""
    import duckdb

    path = tmp_path / "documents.parquet"
    shutil.copy(f"{SF_DIR}/documents.parquet", path)
    run = engine.QUERIES["graph_reachability_roots"]
    assert run(spark, str(tmp_path)).count() > 0
    tmp = tmp_path / "documents.tmp"
    duckdb.execute(
        f"COPY (SELECT * FROM read_parquet('{path}') WHERE doc_id <> 7) "
        f"TO '{tmp}' (FORMAT PARQUET)"
    )
    tmp.replace(path)
    with pytest.raises(RuntimeError, match="contiguous doc_ids"):
        run(spark, str(tmp_path)).collect()


@pytest.mark.parametrize("key", ["stream_dedup_state", "stream_state_reader"])
def test_a_failing_stream_leaves_confs_and_no_stream(spark, monkeypatch, key):
    """A stream whose first microbatch raises makes its op raise, and
    leaves the conf map as configure left it and no stream running:
    the memory-sink drain (stream_dedup_state) and the noop-sink drain
    (stream_state_reader) alike."""
    from pyspark.errors import StreamingQueryException

    from engine import streaming
    from engine.core import configure

    staged = streaming._events_stream

    def failing(*args, **kwargs):
        sdf = staged(*args, **kwargs)

        def boom(batches):
            raise RuntimeError("injected microbatch fault")

        return sdf.mapInPandas(boom, schema=sdf.schema)

    monkeypatch.setattr(streaming, "_events_stream", failing)
    configure(spark)
    confs = spark.conf.getAll
    with pytest.raises(StreamingQueryException, match="injected microbatch fault"):
        engine.QUERIES[key](spark, SF_DIR)
    assert spark.conf.getAll == confs
    assert spark.streams.active == []


def test_worker_kernels_run_outside_the_checkout(tmp_path):
    """UDF and UDTF kernels reach the Python workers by value.  The
    driver here has the checkout on sys.path but runs from another
    directory with no PYTHONPATH, so the workers cannot import engine:
    a kernel that is a module-level engine function or class (pickled
    by reference) fails with ModuleNotFoundError."""
    keys = [
        "agg_cms_heavy_hitters",
        "mm_decode_features",
        "udtf_analyze_polymorphic",
        "udtf_table_arg_partitioned",
    ]
    code = (
        f"import sys\nsys.path.insert(0, {REPO!r})\n"
        "from pyspark.sql import SparkSession\n"
        "import engine\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        f"for key in {keys!r}:\n"
        f"    assert engine.QUERIES[key](spark, {SMOKE_SF_DIR!r}).collect(), key\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]


# Classes each curation_ingest op compiles on its first call in a fresh
# JVM, in the workload's op order (sim_ivf_topk's include the index
# training it runs once per session).  A whole-stage stage counts twice
# in local mode: the driver compiles it once as a fallback check under
# the py4j thread's class loader, and the task again under the
# executor's.
_CURATION_FIRST_PASS = {
    "udf_pandas_scalar": 6,
    "text_hashing_tf": 11,
    "dedup_keep_best": 17,
    "mm_phash_bits": 3,
    "sim_ivf_topk": 53,
    "stream_dedup_state": 16,
    "sink_parquet_partitioned": 15,
}
# Codegen-cache entries one steady curation_ingest pass holds.  Spark's
# default cache has 100 entries in 4 Guava segments of 25, and a
# segment fills by the class loaders' identity hashes, so a pass near
# 100 entries overflows one segment in most JVMs and recompiles every
# pass.
_CURATION_STEADY_ENTRIES = 90


def test_curation_codegen_census(tmp_path):
    """In a fresh JVM with a codegen cache too large to evict, the
    curation_ingest ops compile at most their pinned classes on pass 1
    and none on pass 2 (no op's classes change from call to call), and
    after the cache is emptied one pass refills at most the budget."""
    code = (
        f"import json, sys\nsys.path.insert(0, {REPO!r})\n"
        "from pyspark.sql import SparkSession\n"
        "from perfbench import run as perfbench\n"
        "from perfbench.workloads import WORKLOADS\n"
        f"corpus = {str(tmp_path / 'corpus')!r}\n"
        "perfbench.corpus.generate(corpus, perfbench.CORPUS_SF,"
        " perfbench.CORPUS_SEED)\n"
        "spark = (SparkSession.builder.master('local[4]')\n"
        "         .config('spark.sql.shuffle.partitions', '4')\n"
        "         .config('spark.sql.session.timeZone', 'UTC')\n"
        "         .config('spark.ui.enabled', 'false')\n"
        "         .config('spark.sql.codegen.cache.maxEntries', '1000')\n"
        "         .getOrCreate())\n"
        "import engine\n"
        "jvm = spark._jvm\n"
        "compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics"
        ".METRIC_COMPILATION_TIME()\n"
        "gen = jvm.java.lang.Class.forName("
        "'org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$')\n"
        "field = gen.getDeclaredField('cache')\n"
        "field.setAccessible(True)\n"
        "cache = field.get(gen.getField('MODULE$').get(None))\n"
        "def run_pass():\n"
        "    counts = {}\n"
        "    for op in WORKLOADS['curation_ingest']['ops']:\n"
        "        before = compiled.getCount()\n"
        "        df = engine.QUERIES[op](spark, corpus)\n"
        "        df.write.format('noop').mode('overwrite').save()\n"
        "        counts[op] = compiled.getCount() - before\n"
        "    return counts\n"
        "first, second = run_pass(), run_pass()\n"
        "cache.invalidateAll()\n"
        "steady = sum(run_pass().values())\n"
        "print(json.dumps({'first': first, 'second': second,"
        " 'steady': steady, 'entries': cache.size()}))\n"
        "spark.stop()\n"
    )
    # A fresh TMPDIR: pass 1 stages the replay sources, as in a perfbench run.
    (tmp_path / "tmp").mkdir()
    env = dict(os.environ, TMPDIR=str(tmp_path / "tmp"))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    census = json.loads(out.stdout.strip().splitlines()[-1])
    first = census["first"]
    assert list(first) == list(_CURATION_FIRST_PASS)
    over = {
        op: (n, _CURATION_FIRST_PASS[op])
        for op, n in first.items()
        if n > _CURATION_FIRST_PASS[op]
    }
    assert not over, over
    assert set(census["second"].values()) == {0}, census["second"]
    assert census["steady"] == census["entries"] <= _CURATION_STEADY_ENTRIES, census


def _run_python(code: str, scratch_base: str) -> str:
    env = dict(os.environ, SPARK_GRAFT_STREAM_SCRATCH=scratch_base)
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


def test_scratch_root_removed_at_exit_and_swept_when_dead(tmp_path):
    """Needs no Spark session: a process's root goes at exit, and a root
    left by a process that is gone (killed runs skip atexit) is removed
    by the next process's first scratch() call."""
    base = str(tmp_path)
    root = _run_python(
        "import os; from engine.core import scratch\n"
        "d = scratch('x')\n"
        "open(os.path.join(d, 'f'), 'w').write('1')\n"
        "print(os.path.dirname(d))",
        base,
    )
    assert root.startswith(os.path.join(base, "spark_graft_scratch"))
    assert not os.path.exists(root)

    # The subprocess has exited and been reaped, so its PID is dead.
    planted = os.path.join(root, "ckpt_killed_run")
    os.makedirs(planted)
    swept = _run_python(
        "import os; from engine.core import scratch\n"
        "scratch('x')\n"
        f"print(os.path.exists({root!r}))",
        base,
    )
    assert swept == "False"


def test_staged_build_once_is_atomic_under_concurrent_builders(
    tmp_path, monkeypatch
):
    """Two threads stage one fresh name at once with a slow build: both
    get a complete directory, neither raises, and no private build
    directory is left behind."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tempfile.tempdir)
    sf_dir = tmp_path / "sf_test"
    sf_dir.mkdir()
    (sf_dir / "t.parquet").write_text("corpus")

    def slow_build(d: str) -> None:
        # Like a Spark write: a per-writer file name, read back later
        # (open raises if another builder wiped the directory meanwhile).
        part = os.path.join(d, f"part-{threading.get_ident()}")
        with open(part, "w") as f:
            f.write("rows")
        time.sleep(0.5)
        with open(part) as f:
            assert f.read() == "rows"

    results, errors = [], []

    def stage():
        try:
            results.append(staged_build_once("atomic", str(sf_dir), slow_build))
        except Exception as e:  # recorded for the assertion below
            errors.append(e)

    threads = [threading.Thread(target=stage) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert not errors, errors
    assert len(results) == 2 and results[0] == results[1]
    files = sorted(os.listdir(results[0]))
    assert len(files) == 2 and files[0] == "_STAGING_DONE", files
    base = os.path.dirname(results[0])
    assert os.listdir(base) == [os.path.basename(results[0])]
