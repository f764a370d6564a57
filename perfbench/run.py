"""sparknvr benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its seeded inputs under
``.perfbench/`` (reused per seed), starts the engine's session, warms it up,
runs the workload's operation list in passes until ``--seconds`` have
passed, checks every output, and prints one line per metric followed by a
JSON summary as the last line of standard output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` enables Spark's
event log from the submit arguments, records spans around every call into
the engine's layers, and reports the per-layer metrics (see ``harness.py``).
Every run appends a record of its machine, seed and source revision to
``.perfbench/results.jsonl``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("analytics", "curation_stream")
ROOT = Path.cwd()
WORK = ROOT / ".perfbench"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _environment(run_dir: Path, trace: bool) -> None:
    """Keep every file the engine writes inside the checkout, make the
    package importable by Python workers, and turn the event log on from
    the submit arguments when tracing."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
    }
    if trace:
        (run_dir / "eventlog").mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{run_dir / 'eventlog'}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f'--conf "{k}={v}"' for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def _tree_sha(top: Path) -> str:
    h = hashlib.sha1()
    for p in sorted(top.rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "cupertino_nvr_spark" / "__init__.py").is_file():
        print(
            f"perfbench: no cupertino_nvr_spark package under {ROOT}; run from the repository root",
            file=sys.stderr,
        )
        return 2
    load_start = os.getloadavg()[0]
    run_dir = WORK / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    _environment(run_dir, bool(args.trace))
    sys.path.insert(0, str(ROOT))

    import pyspark

    import harness

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "nproc": _nproc(),
        "loadavg_start": load_start,
        "git_sha": _git_sha(),
        "source_sha1": _tree_sha(ROOT / "cupertino_nvr_spark"),
        "bench_sha1": _tree_sha(Path(__file__).resolve().parent),
        "pyspark": pyspark.__version__,
        "started": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
    result = harness.run(args.workload, args.seed, args.seconds, bool(args.trace), WORK, run_dir)
    record.update(result.record())
    WORK.mkdir(exist_ok=True)
    with open(WORK / "results.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")

    print(f"# {args.workload} seed={args.seed} cpus={record['cpus']} "
          f"load={load_start:.2f} pyspark={record['pyspark']} src={record['source_sha1'][:12]}")
    for line in result.report_lines():
        print(line)
    if result.errors:
        for e in result.errors[:20]:
            print(f"# FAILED {e}")
    metrics = result.per_layer if args.trace else result.end_to_end
    summary = {
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u, _n) in metrics.items()
        },
    }
    bad = [k for k, (v, _u, _n) in metrics.items() if not math.isfinite(v)]
    if bad:
        print(f"perfbench: non-finite metrics {bad}", file=sys.stderr)
        return 1
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
