"""Spatial-engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload pip_probe --seed 1 --seconds 15 --trace 0

Run from the root of a checkout that holds ``pyshp_spark``.  The run
generates the workload's inputs from the seed, computes the expected
output of every op with DuckDB, starts a ``local[nproc]`` session, times
set-up (including ``WARM_OPS`` warm-up ops), then runs ops in a closed
loop (one client) for ``--seconds`` (and at least ``MIN_OPS`` ops),
checking every op's output.  The last
line of standard output is one JSON object; with ``--trace 0`` its
metrics are the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of BENCHMARK.json.  A traced run alternates traced and untraced
ops (pairs of two) and reports the traced ops' cost over the untraced.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Workloads that alternate two op kinds report each timing as the mean
# over kinds of that kind's median (or tail): the kinds differ in cost,
# and a percentile of the mixture would fall in the gap between them.
# TAIL_PCT is the highest whole percentile with >= 10 of MIN_OPS ops
# beyond it (5 per kind when two kinds alternate).
MIN_OPS = 26
MIN_TRACED_OPS = 16  # traced runs: traced ops, as many untraced again
TAIL_PCT = 63
# Ops run as part of set-up, checked but not timed: op walls fall over
# the first ops while the JVM compiles its hot paths, the first few by
# up to half.  Warm-up and measured ops together stay at 30, which keeps
# a run under a minute on a 4-core host.
WARM_OPS = 4
MAX_LOOP_S = 120.0  # hard stop for the op loop, whatever the op count

END_TO_END_UNITS = {
    "setup_s": "s", "op_s_p50": "s", "op_s_tail": "s", "rows_per_s": "rows/s",
    "cpu_s_per_op": "s", "peak_rss_mb": "MB", "ok_frac": "ratio",
}


def percentile(xs: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    s = sorted(xs)
    k = (len(s) - 1) * pct / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def result_of(df, checksum) -> tuple[int, int]:
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)), checksum).collect()[0]
    return int(row[0]), int(row[1] or 0)


def run(spark, session_s: float, man: dict, expected: dict, seconds: float,
        trace: bool, min_ops: int | None = None) -> dict:
    """Set up ``man["workload"]`` on ``spark`` and run its op loop.
    Returns a dict with the end-to-end metrics, the per-layer metrics
    (traced runs) and the op records."""
    import session as sess
    from spans import Readout, Tracer
    from workloads import WORKLOADS

    if min_ops is None:
        min_ops = MIN_TRACED_OPS if trace else MIN_OPS
    sc = spark.sparkContext
    jvm = sess.jvm_pid(spark)
    tracer = Tracer(sc, trace)
    readout = Readout(spark) if trace else None
    builds: list[dict] = []
    if trace:
        _time_index_builds(tracer, builds)
    with sess.RssSampler(jvm) as rss:
        t0 = time.perf_counter()
        tracer.op = "setup"
        wl = WORKLOADS[man["workload"]](spark, man)
        init_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.prepare(tracer.span)  # cold: first worker spawn, read, index build
        prepare_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm = [_one_op(wl, i, expected, None, None) for i in range(WARM_OPS)]
        warm_s = time.perf_counter() - t0
        setup_s = session_s + init_s + prepare_s + warm_s

        ops: list[dict] = []
        cpu0 = sess.tree_cpu_s(jvm)
        loop0 = time.perf_counter()
        i = WARM_OPS
        while True:
            elapsed = time.perf_counter() - loop0
            enough = sum(o["traced"] == trace for o in ops) >= min_ops
            if (elapsed >= seconds and enough) or elapsed >= MAX_LOOP_S:
                break
            traced = trace and (i // 2) % 2 == 1
            ops.append(_one_op(wl, i, expected, tracer if traced else None,
                               readout if traced else None))
            i += 1
        cpu_s = sess.tree_cpu_s(jvm) - cpu0
        peak_mb = rss.peak_mb

    timed = [o for o in ops if not o["traced"]]
    by_kind: dict[str, list[float]] = {}
    for o in timed:  # an op that raised is timed too, as kind None
        by_kind.setdefault(o["kind"], []).append(o["wall"])
    attempted = len(warm) + len(ops)
    failed = sum(not o["ok"] for o in warm + ops)
    e2e = {
        "setup_s": setup_s,
        "op_s_p50": statistics.mean(statistics.median(w) for w in by_kind.values()),
        "op_s_tail": statistics.mean(percentile(w, TAIL_PCT) for w in by_kind.values()),
        "rows_per_s": sum(o["rows_in"] for o in timed) / sum(o["wall"] for o in timed),
        "cpu_s_per_op": cpu_s / len(ops),
        "peak_rss_mb": peak_mb,
        "ok_frac": 1.0 - failed / attempted,
    }
    out = {"e2e": e2e, "ops": ops, "attempted": attempted, "failed": failed,
           "session_s": session_s, "init_s": init_s, "prepare_s": prepare_s,
           "warm_s": warm_s}
    if trace:
        from layers import layer_metrics

        out["layers"] = layer_metrics(ops, builds, man, tracer, wl.grid,
                                      len(readout.errors))
        out["tracer"] = tracer
        out["readout_errors"] = readout.errors
    return out


def _time_index_builds(tracer, builds: list) -> None:
    """Record every broadcast index build as a span, with its size, into
    ``builds``.  Wraps the public class's constructor in this process
    only; a later call redirects the records."""
    from pyshp_spark.operators import spatial

    cls = spatial.BroadcastPolygonIndex
    if not hasattr(cls.__init__, "sink"):
        orig = cls.__init__

        def timed(self, *a, **k):
            tr, out = timed.sink
            t0 = time.perf_counter()
            with tr.span("index.build"):
                orig(self, *a, **k)
            out.append({"s": time.perf_counter() - t0,
                        "polygons": len(self.pol_pdf),
                        "bytes": sum(getattr(v, "nbytes", 0) for v in self.bc.value)})

        cls.__init__ = timed
    cls.__init__.sink = (tracer, builds)


def _one_op(wl, i: int, expected: dict, tracer, readout) -> dict:
    span = tracer.span if tracer else (lambda name: nullcontext())
    rec = {"i": i, "traced": tracer is not None, "ok": False, "kind": None,
           "rows_in": 0, "rows_out": 0}
    if tracer:
        tracer.op = i
    t0 = time.perf_counter()
    try:
        with span("op") as root:
            kind, key, rows_in, df, checksum = wl.op(i, span)
            with span("action"):
                got = result_of(df, checksum)
        rec.update(kind=kind, rows_in=rows_in, rows_out=got[0])
        rec["ok"] = got == expected[key]
        if not rec["ok"]:
            print(f"# op {i} {key}: got {got}, expected {expected[key]}")
    except Exception:  # an op that raises counts as failed, the loop goes on
        print(f"# op {i} raised:\n{traceback.format_exc()}")
        root = None
    rec["wall"] = time.perf_counter() - t0
    if tracer and root is not None:
        spans = [s for s in tracer.spans if s["op"] == i]
        rec["root"] = root["id"]
        rec["spans"] = {s["id"]: s for s in spans}
        rec["spark"] = readout.collect(spans, tracer.group)
        stages = [st for v in rec["spark"].values() for st in v["stages"]]
        longest = max(stages, key=lambda st: st["run_s"], default=None)
        rec["task_skew"] = readout.task_skew(longest) if longest else 1.0
        rec["storage"] = readout.storage()
        covered = sum(s["end"] - s["start"] for s in tracer.children(root["id"]))
        rec["coverage"] = covered / rec["wall"]
    return rec


def result_json(res: dict, host: dict) -> dict:
    """The run's result line: per-layer metrics for a traced run (with
    the host-load control), else the end-to-end metrics."""
    if "layers" in res:
        metrics = dict(res["layers"])
        metrics["host.memcpy_gbps"] = (host["memcpy_gbps"], "GB/s")
        metrics["host.loadavg_1m"] = (host["loadavg_1m"], "load")
    else:
        metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in res["e2e"].items()}
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit (its
    Python daemon and workers exit with it)."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pyshp_spark", "__init__.py")):
        print(f"perfbench: no pyshp_spark package under {root}; run from "
              "the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import gen
    import oracle
    import session as sess
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    workdir = os.path.join(work, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        man = gen.generate(args.workload, args.seed, os.path.join(workdir, "in"), 1.0)
        expected = oracle.expected(man)
        host = sess.host_load()
        print(f"# host memcpy_gbps={host['memcpy_gbps']:.3f} "
              f"loadavg_1m={host['loadavg_1m']:.2f} cpus={sess.ncpus()}")
        t0 = time.perf_counter()
        spark = sess.make_spark(root, workdir)
        session_s = time.perf_counter() - t0
        try:
            res = run(spark, session_s, man, expected, args.seconds,
                      bool(args.trace))
        finally:
            stop_spark(spark)
        if args.trace:
            res["tracer"].dump(os.path.join(
                work, f"trace-{args.workload}-{args.seed}.json"))
            for err in res["readout_errors"]:
                print(f"# readout error: {err}")
        kinds = sorted({o["kind"] for o in res["ops"] if o["kind"]})
        by_kind = {k: round(statistics.median(
            o["wall"] for o in res["ops"] if o["kind"] == k), 3) for k in kinds}
        print(f"# ops={res['attempted']} tail=p{TAIL_PCT} p50_by_kind={by_kind} "
              f"session_s={res['session_s']:.3f} init_s={res['init_s']:.3f} "
              f"prepare_s={res['prepare_s']:.3f} warm_s={res['warm_s']:.3f}")
        print(json.dumps(result_json(res, host)))
        return 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
