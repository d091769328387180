"""emdrive-spark benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):

- ``sql_mixed``: closed-loop HTTP clients against a durable server
  (``sqlmix.py``). A lock sends one statement at a time, so no read
  overlaps a save; a traced run adds a probe without that lock and
  reports its failures under ``race_probe``;
- ``batch_iterative``: registry operators built and executed on seeded
  fixtures (``batch.py``).

Every run prints a ``report`` line (the run stamp, every metric the
workload defines, failure records) and, last, the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones
every workload has (``eventlog.OP_LAYERS``), from spans recorded around
the benchmark's calls into each module and a Spark event log reduced
offline. The traced report line adds the layers only one workload
enters: statement parse, server overhead and serialisation, catalog
insert, save, write amplification and lock wait (sql_mixed); per-op build
and execution time and jobs, released checkpoints and the Spark totals
per pass (batch_iterative).

End-to-end metrics, per workload:

- ``setup_s``: sql_mixed, server boot (session start), CREATE TABLE,
  preload and a closed-loop warm-up; batch, session start and one
  untimed pass over the operators.
- ``op_ms``: mean wall time of one operation. sql_mixed: mean latency
  at the client of the answered statements, SELECTs and INSERTs, from
  before the client lock to the response. batch:
  median wall time of the timed passes over its operators, divided by
  the number of operators.
- ``cpu_ms_per_op``: CPU of the process tree under test during the
  measured part, per operation (statement or operator run).

Throughput (``requests_per_s``; ``pass_s``, which is ``op_ms`` times
the operator count), SELECT and INSERT medians and tails,
``stored_bytes_per_user_byte``, ``ann_recall_at_10``, ``failed_share``,
peak RSS and the host's CPU steal share during the measured part are in
the report line of every run. They carry no bound: on a 4-vCPU host,
HTTP throughput, a median of about 20 SELECTs and the peak RSS of a JVM
move by more than 25% between runs of the same code.

Failed operations count in ``failed`` and never in latencies. Run
artifacts (stamp, report, failure records, spans, reduced event log) go
to ``.perfbench_out/`` in the checkout; scratch data to
``.perfbench_work/``, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, failed_share, metric, nproc, stamp  # noqa: E402
from eventlog import OP_LAYERS  # noqa: E402

sys.path.insert(0, ROOT)

WORKLOADS = ("sql_mixed", "batch_iterative")
E2E = ("setup_s", "op_ms", "cpu_ms_per_op")
def _environment(work: str) -> None:
    """Keep the program's scratch files inside the checkout and fix the
    settings a result depends on, before Spark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import emdrive_spark  # noqa: F401  (fail fast when the program is absent)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", tag)
    out = os.path.join(ROOT, ".perfbench_out", f"{time.strftime('%Y%m%dT%H%M%S')}-{tag}")
    os.makedirs(out, exist_ok=True)
    _environment(work)
    run_stamp = stamp(args.workload, args.seed, bool(args.trace))
    try:
        if args.workload == "sql_mixed":
            import sqlmix

            res = sqlmix.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
        else:
            import batch

            res = batch.run(args.seed, bool(args.trace), work)
    finally:
        if os.path.isdir(work):
            _keep_artifacts(work, out)
            shutil.rmtree(work, ignore_errors=True)

    ledger = res["ledger"]
    run_stamp["fixture_dir"] = res["fixture_dir"] and os.path.relpath(res["fixture_dir"], ROOT)
    report = {
        "stamp": run_stamp,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "failed_share": metric(failed_share(ledger.failed, ledger.attempted), "ratio"),
        "metrics": res["report"],
        "failures": ledger.records,
    }
    with open(os.path.join(out, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    if args.trace:
        if res["spans"] is not None:  # sql_mixed's spans come from its server
            res["spans"].dump(os.path.join(out, "spans.json"))
        metrics = {name: metric(res["layers"][name], unit) for name, unit in OP_LAYERS}
    else:
        metrics = {name: res["e2e"][name] for name in E2E}
    print(json.dumps({"report": report}))
    wrong = [r for r in ledger.records
             if r["kind"] == "restart" or r["status"] in ("mismatch", "recall")]
    print(json.dumps({
        "correct": not wrong,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }))
    return 0


def _keep_artifacts(work: str, out: str) -> None:
    """Copy the small diagnostic files of a run out of its scratch tree."""
    for name in os.listdir(work):
        if name.startswith(("server.", "spans.", "errors.", "requests.", "eventlog_summary")):
            shutil.copy(os.path.join(work, name), out)


if __name__ == "__main__":
    raise SystemExit(main())
