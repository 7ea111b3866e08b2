"""Validation benchmark: one named workload, timed end to end or per layer.

Usage (from the root of a checkout)::

    python3 valbench/run.py --workload micro_batch --seed 1 --seconds 24 --trace 0

Workloads (closed loop, one client: the next op starts when the previous
one returns):

* ``micro_batch``: one ``StreamingValidator`` call per op on the next
  50k-turn slice with the 10-expectation north-star suite and an EVR store.
  About 20 Spark jobs, driver planning and one small parquet append per op:
  the fixed-floor regime.
* ``large_batch``: one ``SuiteRunner.validate`` per op of the same suite over
  one table bucketed and sorted by ``conv_id``; no sink. Executor scan,
  bundled aggregation, uniqueness and the window take most of the op.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs rounds that
time every layer through its public call and attributes the Spark jobs of
each call from the status store (see ``statusstore.py``); it prints the per-layer
metrics. Every output is checked against the goldens of ``golden.py``.
The last stdout line is the JSON result; raw per-op samples go to
``valbench/_work/samples/``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import resource
import statistics
import sys
import time
from time import perf_counter as now

import golden
import inputs
import layers
from inputs import COMMITTED, PART, RUN, SLICE_TURNS, part_id

GROUP = "valbench"
SETUPS = 5
#: ops run before the window; op times fall steeply over the first ten ops
#: of a fresh JVM, then slowly (see README.md)
WARMUP_OPS = 10
TAIL_BEYOND = 10
MAX_OPS = 400


def _sig(x: float) -> float:
    return float(f"{x:.6g}")


class MicroBatch:
    layer = "streaming.epoch"
    rows_per_op = SLICE_TURNS

    def setup(self, spark, seed: int, goldens: dict) -> None:
        self.spark, self.goldens = spark, goldens
        self.suite = layers.north_star_suite(inputs.kl_baseline())
        self.order = inputs.slice_order(seed, MAX_OPS)
        self.evr_path = inputs.fresh_dir(os.path.join(RUN, "stream_evr"))
        self.validator = layers.streaming_validator(spark, self.suite,
                                                    self.evr_path)
        self.epoch = 0

    def prepare(self, i: int):
        return self.order[i], inputs.read_slice(self.spark, self.order[i])

    def op(self, df):
        self.validator(df, self.epoch)
        self.epoch += 1
        return self.validator.results[-1][1]

    def check(self, k: int, result) -> list[str]:
        return golden.check_result(result, self.goldens["slices"][str(k)]["whole"])


class LargeBatch:
    layer = "runner.validate"
    rows_per_op = SLICE_TURNS * inputs.LARGE_SLICES

    def setup(self, spark, seed: int, goldens: dict) -> None:
        self.spark, self.goldens = spark, goldens
        self.suite = layers.north_star_suite(inputs.kl_baseline())
        # one fixed table: the seed varies only the traced rounds' probes
        self.order = inputs.slice_order(seed, MAX_OPS)
        self.df = inputs.register_large(spark)
        self.runner = layers.runner_for(spark)

    def prepare(self, i: int):
        return None, self.df

    def op(self, df):
        return self.runner.validate(df, self.suite)

    def check(self, k, result) -> list[str]:
        return golden.check_result(result, self.goldens["large"])


WORKLOADS = {"micro_batch": MicroBatch, "large_batch": LargeBatch}


class Probes:
    """The traced rounds' calls into the layers the workload op leaves out:
    a ``SuiteRunner`` or ``StreamingValidator`` call on the round's slice,
    ``validate_by_group`` on the round's checkpoint partition and a
    ``Checkpoint`` that commits that partition and reads the merged view."""

    def __init__(self, spark, wl, n_rounds: int):
        self.spark, self.wl = spark, wl
        base = inputs.kl_baseline()
        self.seg_suite = layers.segment_suite(base)
        self.shash = layers.salted_hash(self.seg_suite)
        root = os.path.join(RUN, "ckpt")
        inputs.restore_stores(root)
        self.slices = inputs.committed_slices() + wl.order[:n_rounds]
        inputs.link_partitions(os.path.join(root, "input"), self.slices)
        self.store_root = root
        self.parts = layers.read_partitioned(spark, os.path.join(root, "input"))
        self.ck = layers.checkpoint_for(spark, root)
        if isinstance(wl, MicroBatch):
            self.other = "runner.validate"
            runner = layers.runner_for(spark)
            self.other_call = lambda df: runner.validate(df, wl.suite)
        else:
            self.other = "streaming.epoch"
            validator = layers.streaming_validator(
                spark, wl.suite, inputs.fresh_dir(os.path.join(RUN, "stream_evr")))
            epochs = itertools.count()

            def stream(df):
                validator(df, next(epochs))
                return validator.results[-1][1]
            self.other_call = stream

    def store_size(self) -> tuple[int, int]:
        sizes = [inputs.du(os.path.join(self.store_root, s))
                 for s in inputs.STORES]
        return sum(b for b, _ in sizes), sum(f for _, f in sizes)

    def round(self, ss, r: int, out: dict) -> list[str]:
        """Run round ``r``'s probes, adding metrics to ``out``; returns the
        golden mismatches."""
        from pyspark.sql import functions as F

        k = self.wl.order[r]
        goldens = self.wl.goldens["slices"][str(k)]
        errs = []
        res, m = ss.call(self.other_call, inputs.read_slice(self.spark, k))
        _put(out, self.other, m)
        errs += golden.check_result(res, goldens["whole"])

        pid = part_id(COMMITTED + r)
        part = self.parts.filter(F.col(PART) == pid)
        rows, m = ss.call(layers.segmented_rows, part, self.seg_suite)
        out.setdefault("segmented.validate_s", []).append(m["wall_s"])
        out.setdefault("segmented.jobs", []).append(m["jobs"])
        errs += golden.check_rows(rows, goldens["roles"])

        _, m = ss.call(self.ck.completed_partitions, self.shash)
        out.setdefault("checkpoint.manifest_read_s", []).append(m["wall_s"])
        before = self.store_size()
        res, m = ss.call(lambda: self.ck.run(
            self.parts, self.seg_suite, run_id=f"round-{r}", partition_col=PART,
            partition_values=[part_id(i) for i in range(COMMITTED + r + 1)],
            segment_col=inputs.ROLE))
        _put(out, "checkpoint.run", m)
        after = self.store_size()
        out.setdefault("checkpoint.store_kb_per_partition", []).append(
            (after[0] - before[0]) / 1024.0)
        out.setdefault("checkpoint.files_per_partition", []).append(
            after[1] - before[1])
        if [x.partition_id for x in res.validated] != [pid] or len(
                res.skipped) != COMMITTED + r:
            errs.append(f"checkpoint run committed {len(res.validated)}")
        merged, m = ss.call(
            lambda: self.ck.merged_segment_verdicts(
                self.seg_suite, segment_col=inputs.ROLE).collect())
        out.setdefault("checkpoint.merge_read_s", []).append(m["wall_s"])
        want = golden.merged_expected(
            [self.wl.goldens["slices"][str(s)]["roles"]
             for s in self.slices[:COMMITTED + r + 1]])
        errs += golden.check_merged(merged, want)
        return errs


#: per-layer suffixes reported for each timed call, as named in BENCHMARK.json
LAYER_FIELDS = {
    "streaming.epoch": ("jobs", "stages", "driver_gap_s", "job_busy_s",
                        "write_jobs", "write_s", "gc_s", "jobs_in_group_frac"),
    "runner.validate": ("jobs", "stages", "tasks", "job_busy_s",
                        "driver_gap_s", "core_util", "input_mb",
                        "shuffle_write_mb", "gc_s", "jobs_in_group_frac"),
    "checkpoint.run": ("jobs", "job_busy_s", "driver_gap_s", "write_jobs",
                       "write_s", "gc_s"),
}


def _put(out: dict, layer: str, m: dict) -> None:
    for f in LAYER_FIELDS[layer]:
        out.setdefault(f"{layer}.{f}", []).append(m[f])


def _tail(walls: list[float]) -> tuple[float, int]:
    """(value, samples beyond it) of the highest percentile that has
    ``TAIL_BEYOND`` samples beyond it, kept strictly above the median's
    position: the (TAIL_BEYOND + 1)-th largest op time once there are
    enough ops."""
    s = sorted(walls)
    n = len(s)
    i = min(n - 1, max(n - 1 - TAIL_BEYOND, (n + 1) // 2))
    return s[i], n - 1 - i


def _peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def run_e2e(spark, wl, seconds: float, record: dict) -> dict:
    state = {"i": 0, "attempted": 0, "failed": 0, "walls": []}

    def one(timed: bool) -> float:
        k, df = wl.prepare(state["i"])
        state["i"] += 1
        t0 = now()
        try:
            result = wl.op(df)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            wall = now() - t0
            errs = [f"{type(exc).__name__}: {exc}"[:300]]
        else:
            wall = now() - t0
            errs = wl.check(k, result)
        if timed:
            state["attempted"] += 1
            state["walls"].append(wall)
            state["failed"] += bool(errs)
        if errs:
            print(f"valbench: op {state['i'] - 1} wrong: {errs[:3]}",
                  file=sys.stderr)
        return wall

    record["warmup_s"] = [one(False) for _ in range(WARMUP_OPS)]
    t_end = now() + seconds
    while now() < t_end and state["i"] < MAX_OPS:
        one(True)
    walls = state["walls"]
    tail, beyond = _tail(walls)
    pct = 100.0 * (len(walls) - beyond) / len(walls)
    record.update(op_s=walls, tail_percentile=pct)
    print(f"valbench: {len(walls)} ops; op_s_tail is p{pct:.1f} "
          f"with {beyond} ops beyond it")
    n_ok = state["attempted"] - state["failed"]
    return {
        "attempted": state["attempted"], "failed": state["failed"],
        "metrics": {
            "op_s_p50": (statistics.median(walls), "s"),
            "op_s_tail": (tail, "s"),
            # per median op, so that one op stalled by the host does not
            # move the throughput of the whole window
            "rows_per_s": (wl.rows_per_op / statistics.median(walls), "rows/s"),
            "ok_frac": (n_ok / state["attempted"], "ratio"),
            "peak_rss_mb": (_peak_rss_mb(spark), "MB"),
        },
    }


def run_traced(spark, wl, seconds: float, record: dict) -> dict:
    from statusstore import StatusStore

    ss = StatusStore(spark, GROUP)
    n_rounds = 64
    probes = Probes(spark, wl, n_rounds)
    samples: dict = {}
    op_walls = {"traced": [], "untraced": []}
    attempted = failed = 0
    t_end = None
    r = 0
    while r < n_rounds and (t_end is None or now() < t_end):
        out: dict = {}
        k, df = wl.prepare(r)
        t0 = now()
        passes = layers.plan_probe(wl.suite, r)
        out["planner.plan_s"] = [now() - t0]
        out["planner.passes"] = [passes]
        errs = []
        try:
            # alternate which of the two ops on the round's input runs first
            for traced in ((False, True) if r % 2 else (True, False)):
                if traced:
                    res, m = ss.call(wl.op, df)
                    _put(out, wl.layer, m)
                    traced_wall = m["wall_s"]
                else:
                    t0 = now()
                    res = wl.op(df)
                    untraced = now() - t0
                errs += wl.check(k, res)
                df = wl.prepare(r)[1]
            errs += probes.round(ss, r, out)
        except Exception as exc:  # noqa: BLE001 — a failed round is counted
            errs.append(f"{type(exc).__name__}: {exc}"[:300])
        if errs:
            print(f"valbench: round {r} wrong: {errs[:3]}", file=sys.stderr)
        if t_end is None:  # round 0 warms every layer and is not recorded
            t_end = now() + seconds
            record["warmup_round"] = out
        else:
            attempted += 1
            failed += bool(errs)
            if not errs:
                op_walls["untraced"].append(untraced)
                op_walls["traced"].append(traced_wall)
                for name, vals in out.items():
                    samples.setdefault(name, []).extend(vals)
        r += 1
    record.update(rounds=samples, op_s=op_walls)
    metrics = {name: (statistics.median(vals), unit_of(name))
               for name, vals in samples.items()}
    if op_walls["traced"]:
        metrics["tracing.overhead_frac"] = (
            statistics.median(op_walls["traced"])
            / statistics.median(op_walls["untraced"]) - 1.0, "ratio")
    return {"attempted": max(attempted, 1), "failed": failed if attempted
            else 1, "metrics": metrics}


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_kb_per_partition"):
        return "KB"
    if name.endswith(("_frac", "core_util")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    inputs.import_package()
    spark = inputs.start_session(traced=bool(args.trace))
    inputs.ensure_cache(spark)
    goldens = inputs.load_goldens()
    wl = WORKLOADS[args.workload]()
    setups = []
    for i in range(SETUPS):
        spark.stop()
        t0 = now()
        spark = inputs.start_session(traced=bool(args.trace))
        wl.setup(spark, args.seed, goldens)
        setups.append(now() - t0)
    spark.sparkContext.setJobGroup(GROUP, "valbench closed loop")
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "setup_s": setups}
    try:
        if args.trace:
            res = run_traced(spark, wl, args.seconds, record)
        else:
            res = run_e2e(spark, wl, args.seconds, record)
            res["metrics"]["setup_s"] = (statistics.median(setups), "s")
    finally:
        inputs.stop_session(spark)
    os.makedirs(inputs.SAMPLES, exist_ok=True)
    path = os.path.join(inputs.SAMPLES, f"{args.workload}-seed{args.seed}"
                        f"-trace{args.trace}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(dict(record, result=res), f)
    metrics = {name: {"value": v if not args.trace else _sig(v), "unit": u}
               for name, (v, u) in sorted(res["metrics"].items())}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
