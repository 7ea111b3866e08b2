"""Inputs, session and stores of the validation benchmark.

Everything the benchmark reads or writes lives under ``valbench/_work`` in
the checkout: the generate-once input cache, the Spark local and temporary
directories, the per-run stores and the raw per-op samples.

The input pool is made once per checkout by the package's own generator,
``schema.generate_transcripts``: ``POOL_SLICES`` slices of exactly
``SLICE_TURNS`` turns, each a whole generated table (every conversation of a
slice is complete), with the slice number prefixed to ``conv_id`` so that
slices never share a conversation. From the pool the cache derives

* ``pool/slice=<k>``: the micro-batch slices, drawn by the workload seed;
* ``large/``: the first ``LARGE_SLICES`` slices as one table bucketed and
  sorted by ``conv_id`` (the layout of ``bench.py::transcripts_table``);
* ``kl_baseline.json``: the KL partition object, a uniform histogram of
  ``length(text)`` over the whole pool, computed with numpy;
* ``ckpt_pristine/``: manifest, EVR and violations stores of a segmented
  ``Checkpoint`` that has committed the ``COMMITTED`` partitions
  ``p000..``, restored before every traced run.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
CACHE = os.path.join(WORK, "cache")
POOL = os.path.join(CACHE, "pool")
LARGE = os.path.join(CACHE, "large")
BASELINE = os.path.join(CACHE, "kl_baseline.json")
GOLDEN = os.path.join(CACHE, "golden.json")
PRISTINE = os.path.join(CACHE, "ckpt_pristine")
RUN = os.path.join(WORK, "run")
SAMPLES = os.path.join(WORK, "samples")

SLICE_TURNS = 50_000
POOL_SLICES = 16
LARGE_SLICES = 6
LARGE_BUCKETS = 12
LARGE_TABLE = "vb_large"
COMMITTED = 4
KL_BINS = 20
#: executor cores; two of the four are left to the driver's Python and the
#: JVM's compiler and GC threads, so op times settle sooner after start
CORES = 2
GEN_SEED = 1000
ROLE = "role"
PART = "part"

#: the untouched checkpoint stores; ``restore_stores`` copies them to RUN
STORES = ("manifest", "evr", "violations")

SESSION_CONF = {
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "2g",
    "spark.local.dir": os.path.join(WORK, "spark-local"),
    "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    # a fixed heap: -Xms equal to spark.driver.memory, so heap sizing does not
    # vary from run to run; the throughput collector, whose pauses vary less
    # from run to run than G1's
    "spark.driver.extraJavaOptions": (
        "-Xms2g -XX:+UseParallelGC -XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"),
}

#: added for traced runs: the status store keeps every job and stage of the
#: run, so attribution never looks up an evicted stage (the default keeps
#: 1,000, and looking up an evicted one raises)
TRACE_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}


def import_package():
    """Import the package from the checkout root, or exit with code 2."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import great_expectations_spark  # noqa: F401
    except ImportError as exc:
        print(f"valbench: cannot import great_expectations_spark: {exc}",
              file=sys.stderr)
        sys.exit(2)


def start_session(app: str = "valbench", traced: bool = False):
    """A quiet session built through the package's own ``build_session``."""
    from great_expectations_spark.skew import build_session

    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    spark = build_session(
        app, master=f"local[{CORES}]", shuffle_partitions=CORES,
        extra_conf=dict(SESSION_CONF, **(TRACE_CONF if traced else {})),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def slice_path(k: int) -> str:
    return os.path.join(POOL, f"slice={k}")


def read_slice(spark, k: int):
    """Slice ``k`` with the derived KL column, as every op validates it."""
    from pyspark.sql import functions as F

    from great_expectations_spark.schema import TRANSCRIPTS_SCHEMA

    return (spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(slice_path(k))
            .withColumn("__text_len", F.length("text")))


def slice_order(seed: int, n: int) -> list[int]:
    """The seed's sequence of ``n`` pool slices: shuffled passes over the
    pool, so the seed picks which slices are used, never how many turns."""
    rng = random.Random(seed)
    out: list[int] = []
    while len(out) < n:
        perm = list(range(POOL_SLICES))
        rng.shuffle(perm)
        out.extend(perm)
    return out[:n]


def register_large(spark):
    """Register the cached bucketed table in this session's catalog."""
    from pyspark.sql import functions as F

    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {LARGE_TABLE} "
        "(conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp) USING PARQUET "
        f"CLUSTERED BY (conv_id) SORTED BY (conv_id, turn_idx) "
        f"INTO {LARGE_BUCKETS} BUCKETS LOCATION '{LARGE}'"
    )
    return spark.table(LARGE_TABLE).withColumn("__text_len", F.length("text"))


def kl_baseline() -> dict:
    with open(BASELINE) as f:
        return json.load(f)


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def ensure_cache(spark) -> None:
    """Make the generate-once inputs that are missing from the cache."""
    from pyspark.sql import functions as F

    from great_expectations_spark.schema import generate_transcripts

    os.makedirs(CACHE, exist_ok=True)
    if not _done(POOL):
        parts = [
            generate_transcripts(spark, n_turns=SLICE_TURNS, seed=GEN_SEED + k,
                                 partitions=1)
            .withColumn("conv_id", F.concat(F.lit(f"s{k:03d}-"), "conv_id"))
            .withColumn("slice", F.lit(k))
            for k in range(POOL_SLICES)
        ]
        pool = parts[0]
        for p in parts[1:]:
            pool = pool.unionByName(p)
        (pool.repartition(POOL_SLICES, "slice").write.partitionBy("slice")
         .mode("overwrite").parquet(POOL))
    if not os.path.exists(BASELINE):
        _write_baseline()
    if not _done(LARGE):
        from great_expectations_spark.schema import TRANSCRIPTS_SCHEMA

        src = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(
            *[slice_path(k) for k in range(LARGE_SLICES)])
        (src.repartition(LARGE_BUCKETS, "conv_id")
         .write.bucketBy(LARGE_BUCKETS, "conv_id")
         .sortBy("conv_id", "turn_idx").option("path", LARGE)
         .mode("overwrite").saveAsTable(LARGE_TABLE + "_build"))
        spark.sql(f"DROP TABLE IF EXISTS {LARGE_TABLE}_build")
    if not os.path.exists(os.path.join(PRISTINE, "_DONE")):
        _write_pristine(spark)
    if not os.path.exists(GOLDEN):
        _write_goldens()


def _files(paths: list[str]) -> list[str]:
    return sorted(os.path.join(p, n) for p in paths for n in os.listdir(p)
                  if n.endswith(".parquet"))


def _write_goldens() -> None:
    """Golden records of every pool slice (whole and per role) and of the
    large table, computed without the package."""
    import golden

    base = kl_baseline()
    out = {"slices": {}, "large": golden.compute(
        _files([slice_path(k) for k in range(LARGE_SLICES)]), base,
        by_role=False)[golden.ALL]}
    for k in range(POOL_SLICES):
        files = _files([slice_path(k)])
        out["slices"][str(k)] = {
            "whole": golden.compute(files, base, by_role=False)[golden.ALL],
            "roles": golden.compute(files, base, by_role=True)}
    with open(GOLDEN + ".tmp", "w") as f:
        json.dump(out, f)
    os.rename(GOLDEN + ".tmp", GOLDEN)


def load_goldens() -> dict:
    with open(GOLDEN) as f:
        return json.load(f)


def _write_baseline() -> None:
    """Uniform ``KL_BINS``-bin histogram of ``length(text)`` over the pool."""
    import duckdb
    import numpy as np

    lens = duckdb.sql(
        f"SELECT length(text) FROM read_parquet('{POOL}/*/*.parquet') "
        "WHERE text IS NOT NULL").fetchnumpy()
    lens = next(iter(lens.values())).astype(float)
    edges = np.linspace(lens.min(), lens.max(), KL_BINS + 1)
    counts, _ = np.histogram(lens, bins=edges)
    obj = {"bins": [float(e) for e in edges],
           "weights": [float(c) / counts.sum() for c in counts],
           "tail_weights": [0.0, 0.0]}
    with open(BASELINE, "w") as f:
        json.dump(obj, f)


def part_id(i: int) -> str:
    return f"p{i:03d}"


def link_partitions(root: str, slices: list[int]) -> None:
    """Partitioned input ``root/part=p<i>/``: partition ``i`` holds the files
    of pool slice ``slices[i]`` (hard links, so building it copies no data)."""
    shutil.rmtree(root, ignore_errors=True)
    for i, k in enumerate(slices):
        d = os.path.join(root, f"{PART}={part_id(i)}")
        os.makedirs(d)
        for name in os.listdir(slice_path(k)):
            if name.endswith(".parquet"):
                src = os.path.join(slice_path(k), name)
                try:
                    os.link(src, os.path.join(d, name))
                except OSError:
                    shutil.copyfile(src, os.path.join(d, name))


def committed_slices() -> list[int]:
    """The pool slices behind the pristine committed partitions."""
    return list(range(COMMITTED))


def _write_pristine(spark) -> None:
    from layers import checkpoint_for, read_partitioned, segment_suite

    tmp = PRISTINE + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    link_partitions(os.path.join(tmp, "input"), committed_slices())
    ck = checkpoint_for(spark, tmp)
    ck.run(read_partitioned(spark, os.path.join(tmp, "input")),
           segment_suite(kl_baseline()), run_id="pristine",
           partition_col=PART,
           partition_values=[part_id(i) for i in range(COMMITTED)],
           segment_col=ROLE)
    shutil.rmtree(os.path.join(tmp, "input"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(PRISTINE, ignore_errors=True)
    os.rename(tmp, PRISTINE)


def restore_stores(dest: str) -> None:
    """Copy the pristine checkpoint stores to ``dest`` (replacing it)."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    for s in STORES:
        if os.path.exists(os.path.join(PRISTINE, s)):
            shutil.copytree(os.path.join(PRISTINE, s), os.path.join(dest, s))


def stop_session(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def du(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files
