"""Self-test of the benchmark at a tiny input size, in one Spark session.

    python3 perfbench/selftest.py

Run from the root of a checkout.  Checks that
- every workload runs with no failed op, and its result line names every
  end-to-end metric of BENCHMARK.json with that metric's unit;
- a traced run names every per-layer metric with its unit, and its
  readout accounts for every job, stage and SQL execution;
- the oracle rejects a result with one row dropped;
- on pip_skew, the traced spans cover at least 90% of each op's wall.
Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SCALE = 0.05
MIN_OPS = 4


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    import gen
    import oracle
    import run
    import session as sess
    from workloads import WORKLOADS

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems: list[str] = []
    work = os.path.join(root, ".perfbench_work", f"selftest-{os.getpid()}")
    spark = sess.make_spark(root, work)
    try:
        host = sess.host_load()
        # pip_skew last: its set-up turns size-based broadcasts off
        for name in ("pip_probe", "knn_tiles", "pip_skew"):
            man = gen.generate(name, 7, os.path.join(work, name), SCALE)
            expected = oracle.expected(man)
            for trace in (False, True):
                res = run.run(spark, 0.0, man, expected, 0.0, trace, MIN_OPS)
                line = run.result_json(res, host)
                want = layer_units if trace else e2e_units
                got = {k: v["unit"] for k, v in line["metrics"].items()}
                if got != want:
                    problems.append(f"{name} trace={trace}: metrics/units "
                                    f"differ: {sorted(set(got.items()) ^ set(want.items()))}")
                if line["failed"] or not line["correct"]:
                    problems.append(f"{name} trace={trace}: {line['failed']} ops failed")
                if trace and res["readout_errors"]:
                    problems.append(f"{name}: readout errors {res['readout_errors']}")
                if trace and name == "pip_skew":
                    low = [o["coverage"] for o in res["ops"]
                           if o["traced"] and o["coverage"] < 0.9]
                    if low:
                        problems.append(f"pip_skew: span coverage below 0.9: {low}")
            if name == "pip_probe":
                wl = WORKLOADS[name](spark, man)
                wl.prepare(lambda _: nullcontext())
                _, key, _, df, checksum = wl.op(0, lambda _: nullcontext())
                dropped = df.exceptAll(df.limit(1))
                if run.result_of(dropped, checksum) == expected[key]:
                    problems.append("oracle accepted a result with one row dropped")
                if run.result_of(df, checksum) != expected[key]:
                    problems.append("oracle rejected the full result")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
