"""Document-annotation benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  With ``--trace 0`` the last line of standard
output is a JSON object holding every end-to-end metric of
``BENCHMARK.json``; with ``--trace 1`` it holds every per-layer metric.  The
lines before it are notes for a reader (host conditions, samples, digest).
The exit code is 0 only when every output check passed.  Workloads, metrics
and layers are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse_args(argv, spec: dict) -> argparse.Namespace:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    parser.add_argument("--seed", type=int, default=42)
    parser.add_argument("--seconds", type=float, default=spec["run_seconds"])
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--docs", type=int, default=None,
                        help="corpus size (default: the workload's); committed "
                             "digests exist only for the default size and seed")
    return parser.parse_args(argv)


def _declared(spec: dict, trace: int) -> dict:
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    # import the benchmark as the ``perfbench`` package, never its modules
    # as top-level names
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != here]
    sys.path.insert(0, ROOT)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
            spec = json.load(fh)
        import sciencebeam_trainer_grobid_tools_spark  # noqa: F401
    except (OSError, ImportError) as exc:
        print("perfbench: cannot run here: %s" % exc, file=sys.stderr)
        return 2
    args = _parse_args(argv, spec)

    from perfbench import kernel, spark
    from perfbench.checks import CheckFailed
    from perfbench.host import HostWindow

    data_root = os.path.join(ROOT, ".perfbench")
    os.makedirs(data_root, exist_ok=True)
    host = HostWindow()
    correct = True
    try:
        if args.workload == "spark_resume":
            outcome = spark.run(args.seed, args.seconds, bool(args.trace),
                                args.docs or spark.DEFAULT_DOCS, ROOT, data_root)
        else:
            outcome = kernel.run(args.workload, args.seed, args.seconds, bool(args.trace),
                                 args.docs or kernel.DEFAULT_DOCS, ROOT, data_root)
    except CheckFailed as exc:
        print("perfbench: output check failed: %s" % exc, file=sys.stderr)
        correct = False
    except Exception:
        traceback.print_exc()
        print("perfbench: workload %s did not complete" % args.workload, file=sys.stderr)
        return 3
    if not correct:
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1

    conditions = host.close()
    metrics = outcome["metrics"]
    declared = _declared(spec, args.trace)
    emitted = {name: unit for name, (_, unit) in metrics.items()}
    if emitted != declared:
        print("perfbench: metrics differ from BENCHMARK.json: %r" % sorted(
            set(emitted.items()) ^ set(declared.items())), file=sys.stderr)
        return 3
    print("host: %s" % json.dumps(conditions))
    print("notes: %s" % json.dumps(dict(outcome["notes"], workload=args.workload, seed=args.seed)))
    print(json.dumps({
        "correct": True,
        "attempted": outcome["attempted"],
        "failed": outcome["failed"],
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
