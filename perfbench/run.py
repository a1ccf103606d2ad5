"""Benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process, one ``local[k]`` Spark session
with ``k`` the cpus this process may use. Prints one line per metric
(``name value unit``), a ``RUN`` line recording the environment, with
``--trace 1`` a ``SPANS`` line holding every recorded span, and last the
result as one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
ones). Workloads and metrics are described in ``perfbench/NOTES.md``.

Everything the run writes (Spark local dirs, Java and Python temp files,
Derby's home) goes to a private directory under ``.perfbench_tmp/`` that is
removed at exit; DuckDB oracle results are cached in ``.perfbench_cache/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402

import pyspark  # noqa: E402

import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SF = "sf0.1"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf-dir", help=f"parquet catalog the catalog workloads read (default: the "
                   f"{DEFAULT_SF} sibling of the package's smoke catalog)")
    return p.parse_args(argv)


def sibling_catalog(sf: str) -> str:
    """The test catalog at scale ``sf``: a sibling of the package's smoke
    catalog directory."""
    from spark_jdbc_limit_spark.sources.catalog import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(DEFAULT_SF_DIR), sf)


def git_head(root: str) -> str:
    """HEAD's commit id read from ``.git``, or "unknown" outside a clone."""
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(root, ".git", head[5:])) as f:
                head = f.read().strip()
        return head
    except OSError:
        return "unknown"


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    scratch = os.path.join(ROOT, ".perfbench_tmp", uuid.uuid4().hex[:12])
    os.makedirs(scratch)
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    cpus = len(os.sched_getaffinity(0))
    w = None
    try:
        sf_dir = os.path.abspath(args.sf_dir or sibling_catalog(DEFAULT_SF))
        cls = workloads.JdbcWorkload if args.workload == "jdbc_roundtrip" else workloads.CatalogWorkload
        w = cls(args.workload, args.seed, args.seconds, bool(args.trace),
                sf_dir, cpus, scratch, ROOT, T0)
        w.run()
        metrics = workloads.per_layer(w) if args.trace else workloads.end_to_end(w)
        run_info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "sf_dir": sf_dir,
            "warm_passes": int(w.counters["setup.warm_passes"]),
            "settled": w.settled,
            "warm_pass_s": [round(x, 3) for x in w.warm_pass_s],
            "session_s": round(w.counters["session.build_session_s"], 3),
            "timed_pass_s": [round(p["s"], 3) for p in w.passes],
            "steal_pct": round(w.counters["host.steal_pct"], 2),
            "pyspark": pyspark.__version__,
            "java": w.spark._jvm.java.lang.System.getProperty("java.version"),
            "git_head": git_head(ROOT),
        }
        spans = w.rec.spans
    finally:
        if w is not None and hasattr(w, "spark"):
            w.close()
            stop_spark(w.spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass

    failed = [o for o in w.all_ops if not o["ok"]]
    for o in failed[:20]:
        print(f"FAILED {o['name']}: {o.get('error', 'output check failed')}")
    for msg in getattr(w, "oracle_fail", []):
        print(f"ORACLE {msg}")
    n_timed = len([o for o in w.ops if not o.get("traced")])
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"op_ms and op_ms_p90 over {n_timed} untraced timed ops; "
          f"{len(w.passes)} timed passes; {len(w.all_ops)} ops attempted in total")
    print("RUN " + json.dumps(run_info))
    if args.trace:
        print("SPANS " + json.dumps(spans))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(w.all_ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
