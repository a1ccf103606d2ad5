"""The benchmark workloads, run against the package's public entry points.

Each workload is one closed loop on one ``local[k]`` session: a *pass* is one
run through the workload's fixed op list, and the next op starts when the
previous one has returned. Untimed warm passes run until two consecutive
passes agree, then whole passes are timed until ``seconds`` have elapsed.

- ``catalog_iterative``: registry entries whose builders run driver jobs and
  ``localCheckpoint`` cuts while they construct the plan, so the
  ``operators`` (build) layer does most of the work.
- ``jdbc_roundtrip``: the paper's own features on an in-memory Derby
  database: per-partition LIMIT pushdown scans, a DSv2 catalog aggregate and
  the all-or-nothing JDBC write. The parquet catalog and ``operators`` are
  not touched.

The seed fixes the op order of the catalog passes and the generated Derby
rows. Every output is checked; a failed check counts as a failed op.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
import statistics
import time
from collections.abc import Callable
from typing import NamedTuple

import numpy as np
import pandas as pd

from spans import Recorder, duration_ms, plan_phases_ms, self_times_ms

#: Entries whose builders run driver jobs and checkpoint cuts while they
#: construct the plan; on 4 cpus the build takes over 90% of each op.
#: The run budget (70 runs within 3420 s) leaves room for two.
COHORTS = {
    "catalog_iterative": (
        "dedup_connected_components",
        "graph_lpa_until_settled",
    ),
}
WORKLOADS = (*COHORTS, "jdbc_roundtrip")


class Op(NamedTuple):
    """One op of a pass: ``run(op_id, rec)`` is timed, ``check(out, rec,
    first)`` is not; ``first`` is true on the first (cold) warm pass."""

    name: str
    kind: str  # "catalog", "read" or "write"
    run: Callable
    check: Callable


#: Warm-up: the first (cold) pass, then passes until at least WARM_MIN_S
#: seconds of them have run and the last two agree within SETTLE_TOL, or
#: until WARM_CAP_S seconds of warm-up. A minimum in seconds rather than in
#: passes keeps set-up time steady on workloads with short passes.
SETTLE_TOL = 0.10
WARM_MIN_S = 10.0
WARM_CAP_S = 75.0
#: Timed passes continue past ``seconds`` until at least this many ran.
MIN_TIMED = 3

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
JDBC_ROWS = 200_000
WRITE_ROWS = 20_000
GROUPS = 100
VAL_RANGE = 1_000_000
PRED_VAL = 400_000  # "val" < PRED_VAL matches about 40% of the rows


def _quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, as numpy's default."""
    return float(np.quantile(np.asarray(values, dtype=float), q)) if values else 0.0


def _host_cpu_jiffies() -> list[int]:
    """The host-wide cpu counters of /proc/stat (user nice system idle iowait
    irq softirq steal ...): steal is time the hypervisor ran someone else."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Workload:
    """One run: the session, the recorder, and the per-op records."""

    def __init__(self, name, seed, seconds, traced, sf_dir, cpus, scratch, root, t0):
        self.name, self.seed, self.seconds = name, seed, seconds
        self.traced, self.sf_dir, self.cpus = traced, sf_dir, cpus
        self.scratch, self.root, self.t0 = scratch, root, t0
        self.ops: list[dict] = []  # timed ops only
        self.all_ops: list[dict] = []  # warm and timed: every op is checked
        self.passes: list[dict] = []  # timed passes only
        self.counters: dict[str, float] = {}
        self.persisted: list[tuple[int, float]] = []  # after each traced pass
        self.check_s = 0.0  # untimed output checks during set-up

    # ---- session layer -------------------------------------------------
    def start_session(self):
        from spark_jdbc_limit_spark.session import build_session, ship_package

        t = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.name}",
            cpus=self.cpus,
            driver_memory="3g",
            extra_conf={
                "spark.local.dir": self.scratch,
                "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.scratch} "
                    f"-Dderby.system.home={os.path.join(self.scratch, 'derby')}"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.counters["session.build_session_s"] = time.perf_counter() - t
        t = time.perf_counter()
        ship_package(self.spark)
        self.counters["session.ship_package_s"] = time.perf_counter() - t
        self.rec = Recorder(self.spark, self.traced)

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    # ---- the loop ------------------------------------------------------
    def run(self) -> None:
        self.start_session()
        self.setup()
        warm: list[float] = []
        t_warm = time.perf_counter()
        while True:
            warm.append(self.one_pass(timed=False, traced=False, first=not warm))
            settled = (len(warm) >= 3 and sum(warm[1:]) >= WARM_MIN_S
                       and abs(warm[-1] - warm[-2]) <= SETTLE_TOL * warm[-2])
            if settled or time.perf_counter() - t_warm > WARM_CAP_S:
                break
        self.counters["setup.warm_passes"] = len(warm)
        self.warm_pass_s, self.settled = warm, settled
        self.setup_s = time.perf_counter() - self.t0 - self.check_s
        start, cpu0 = time.perf_counter(), _host_cpu_jiffies()
        n = 0
        while n < MIN_TIMED or time.perf_counter() - start < self.seconds:
            # a traced run alternates traced and untraced passes, so the
            # difference of their medians is the tracing overhead
            self.passes.append({"s": self.one_pass(timed=True, traced=self.traced and n % 2 == 0),
                                "traced": self.traced and n % 2 == 0})
            n += 1
        spent = [y - x for x, y in zip(cpu0, _host_cpu_jiffies())]
        self.counters["host.steal_pct"] = 100.0 * spent[7] / max(1, sum(spent))

    def one_pass(self, timed: bool, traced: bool, first: bool = False) -> float:
        total = 0.0
        self.rec.enabled = traced
        for op in self.op_list():
            rec = self.run_op(op, first)
            self.all_ops.append(rec)
            total += rec["ms"] / 1e3
            if timed:
                rec["traced"] = traced
                rec["pass"] = len(self.passes)
                self.ops.append(rec)
        if traced:
            self.persisted.append(self.rec.persisted())
        return total

    def run_op(self, op: Op, first: bool) -> dict:
        """Run one op; ``ms`` is its wall time, checks are not timed."""
        rec = {"name": op.name, "kind": op.kind, "ok": False}
        op_id = self.rec.new_op()
        t = time.perf_counter()
        try:
            with self.rec.span("op", op_id) as root:
                out = op.run(op_id, rec)
            rec["ms"] = (time.perf_counter() - t) * 1e3
            if root is not None:
                rec["ms"] = duration_ms(root)
                rec.update(self.rec.op_counters(op_id))
            c = time.perf_counter()
            rec["ok"] = bool(op.check(out, rec, first))
            if first:
                self.check_s += time.perf_counter() - c
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
            rec.setdefault("ms", (time.perf_counter() - t) * 1e3)
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        return rec

    def close(self) -> None:
        """Release what the workload's set-up created outside the session."""

    # ---- plans and exec layers, shared by every query op ---------------
    def plan_and_run(self, df, op_id, rec, run):
        """Spans for Catalyst planning (traced only) and execution."""
        if self.rec.enabled:
            from spark_jdbc_limit_spark.plans.verify import count_exchanges

            with self.rec.span("plans", op_id):
                df._jdf.queryExecution().executedPlan()
                rec["plans.exchanges"] = count_exchanges(df)
                rec.update({f"plans.{k}_ms": v for k, v in plan_phases_ms(df).items()})
        with self.rec.span("exec", op_id, group=True):
            return run(df)


class CatalogWorkload(Workload):
    """Registry entries at one scale factor, in a seed-fixed order."""

    def setup(self):
        from spark_jdbc_limit_spark import operators

        self.registry = operators.REGISTRY
        self.order = list(COHORTS[self.name])
        random.Random(self.seed).shuffle(self.order)
        self.schemas: dict[str, object] = {}
        self.oracle_fail: list[str] = []

    def op_list(self):
        return [Op(n, "catalog", self._op(n), self._check(n)) for n in self.order]

    def _op(self, name):
        def body(op_id, rec):
            with self.rec.span("operators.build", op_id, group=True):
                df = self.registry[name].builder(self.spark, self.sf_dir)
            self.plan_and_run(df, op_id, rec, lambda d: d.write.format("noop").mode("overwrite").save())
            return df

        return body

    def _check(self, name):
        def check(df, rec, first):
            if first:
                self.schemas[name] = df.schema
                return self._oracle_matches(name, df)
            return df.schema == self.schemas[name]

        return check

    def _oracle_matches(self, name, df) -> bool:
        """Compare the warm output with the entry's DuckDB oracle (the
        oracle's frame is cached per checkout, keyed by its SQL and data)."""
        from oracle_utils import _shared_connection, compare_frames

        from spark_jdbc_limit_spark.plans.verify import assert_no_python_udf_in_plan

        spec = self.registry[name]
        assert_no_python_udf_in_plan(df)
        spark_pdf = df.toPandas()
        oracle_pdf = self._oracle_frame(spec, _shared_connection)
        try:
            compare_frames(spark_pdf, oracle_pdf, name)
        except AssertionError as exc:
            self.oracle_fail.append(str(exc)[:500])
            return False
        return True

    def _oracle_frame(self, spec, connect) -> pd.DataFrame:
        from spark_jdbc_limit_spark.sources.catalog import TABLES, table_path

        key = hashlib.sha256(spec.oracle.encode())
        for t in TABLES:
            st = os.stat(table_path(self.sf_dir, t))
            key.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
        cache_dir = os.path.join(self.root, ".perfbench_cache")
        path = os.path.join(cache_dir, f"{spec.name}-{key.hexdigest()[:16]}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        pdf = connect(self.sf_dir).execute(spec.oracle).fetchdf()
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(pdf, f)
        os.replace(tmp, path)
        return pdf


class JdbcWorkload(Workload):
    """Per-partition LIMIT scans, a catalog aggregate and an atomic write on
    a fresh in-memory Derby database seeded from the run's seed."""

    db: str | None = None

    def setup(self):
        from spark_jdbc_limit_spark.sources.jdbc import write_extjdbc

        rng = np.random.default_rng(self.seed)
        self.grp = rng.integers(0, GROUPS, JDBC_ROWS)
        self.val = rng.integers(0, VAL_RANGE, JDBC_ROWS)
        src = pd.DataFrame({"id": np.arange(JDBC_ROWS, dtype=np.int64), "grp": self.grp, "val": self.val})
        batch = pd.DataFrame({
            "id": np.arange(WRITE_ROWS, dtype=np.int64),
            "grp": rng.integers(0, GROUPS, WRITE_ROWS),
            "val": rng.integers(0, VAL_RANGE, WRITE_ROWS),
        })
        self.batch_sum = int(batch["val"].sum())
        self.db = f"perfbench_{os.getpid()}_{self.seed}"
        self.url = f"jdbc:derby:memory:{self.db};create=true"
        parts = self.cpus
        self.batch_df = self.spark.createDataFrame(batch).repartition(parts)
        write_extjdbc(self.spark.createDataFrame(src).repartition(parts), self.url, "src",
                      mode="overwrite", driver=DERBY_DRIVER)
        # write_jdbc_atomic(mode="overwrite") refuses a missing target
        # (AtomicWriteError), so the target exists before the first write
        write_extjdbc(self.batch_df.limit(0), self.url, "dst", mode="overwrite", driver=DERBY_DRIVER)
        self.matches = int((self.val < PRED_VAL).sum())
        self.group_n = np.bincount(self.grp, minlength=GROUPS)
        self.group_sum = np.bincount(self.grp, weights=self.val, minlength=GROUPS).astype(np.int64)

    def close(self):
        """Drop the in-memory database; Derby reports success as an error."""
        if self.db is None:
            return
        try:
            self.spark._jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:memory:{self.db};drop=true")
        except Exception as exc:  # noqa: BLE001
            if "08006" not in str(exc) and "dropped" not in str(exc):
                raise

    @staticmethod
    def _parts(n: int) -> list[str]:
        b = [i * JDBC_ROWS // n for i in range(n + 1)]
        return [f'"id" >= {b[i]} AND "id" < {b[i + 1]}' for i in range(n)]

    def op_list(self):
        return [
            Op("scan_show_p1", "read", self._scan(1, 21), self._rows_check(21, None)),
            Op("scan_limit_p4", "read", self._scan(4, 1000), self._rows_check(1000, None)),
            Op("scan_limit_p16", "read", self._scan(16, 1000), self._rows_check(1000, None)),
            Op("scan_pred_p4", "read", self._scan(4, 50_000, ["id", "val"], f'"val" < {PRED_VAL}'),
               self._rows_check(min(50_000, self.matches), PRED_VAL)),
            Op("catalog_agg", "read", self._catalog_agg, self._agg_check),
            Op("atomic_write", "write", self._write, self._write_check),
        ]

    def _scan(self, n_parts, limit, columns=None, predicate=None):
        from spark_jdbc_limit_spark.sources.jdbc import jdbc_scan_with_limit

        def body(op_id, rec):
            rec["parts"] = n_parts
            with self.rec.span("sources.jdbc.scan_build", op_id):
                df = jdbc_scan_with_limit(
                    self.spark, self.url, "SRC", limit, columns=columns, predicate=predicate,
                    partition_predicates=self._parts(n_parts), driver=DERBY_DRIVER,
                )
            return self.plan_and_run(df, op_id, rec, lambda d: d.toPandas())

        return body

    def _rows_check(self, expect_rows, below):
        def check(pdf, rec, first):
            rec["rows_returned"] = len(pdf)
            ids = pdf["id"].to_numpy()
            ok = len(pdf) == expect_rows and len(np.unique(ids)) == len(ids)
            ok = ok and bool((pdf["val"].to_numpy() == self.val[ids]).all())
            if "grp" in pdf:
                ok = ok and bool((pdf["grp"].to_numpy() == self.grp[ids]).all())
            if below is not None:
                ok = ok and bool((pdf["val"].to_numpy() < below).all())
            return ok

        return check

    def _catalog_agg(self, op_id, rec):
        from spark_jdbc_limit_spark.sources.jdbc import register_jdbc_catalog

        with self.rec.span("sources.jdbc.catalog_build", op_id):
            register_jdbc_catalog(self.spark, "perfbench_derby", self.url, driver=DERBY_DRIVER)
            df = self.spark.sql(
                "SELECT grp, COUNT(*) AS n, SUM(val) AS s FROM perfbench_derby.`SRC` GROUP BY grp"
            )
        return self.plan_and_run(df, op_id, rec, lambda d: d.toPandas())

    def _agg_check(self, pdf, rec, first):
        got = pdf.sort_values("grp")
        return (
            got["grp"].tolist() == list(range(GROUPS))
            and got["n"].tolist() == self.group_n.tolist()
            and got["s"].astype("int64").tolist() == self.group_sum.tolist()
        )

    def _write(self, op_id, rec):
        from spark_jdbc_limit_spark.sinks import write_jdbc_atomic

        with self.rec.span("sinks.write_jdbc_atomic", op_id, group=True):
            write_jdbc_atomic(self.batch_df, self.url, "dst", mode="overwrite",
                              properties={"driver": DERBY_DRIVER})

    def _write_check(self, _, rec, first):
        from pyspark.sql import functions as F

        from spark_jdbc_limit_spark.sources.jdbc import jdbc_reader

        got = jdbc_reader(self.spark, url=self.url, table="dst", driver=DERBY_DRIVER).load()
        n, s = got.agg(F.count("*"), F.sum("val")).collect()[0]
        return n == WRITE_ROWS and s == self.batch_sum


# ---- results ------------------------------------------------------------
def _per_pass(ops, key, passes) -> float:
    """Median over the given passes of the per-pass total of ``key``."""
    totals = [sum(o.get(key, 0.0) for o in ops if o["pass"] == p) for p in passes]
    return float(statistics.median(totals)) if totals else 0.0


def end_to_end(w: Workload) -> dict[str, tuple[float, str]]:
    times = [o["ms"] for o in w.ops if not o.get("traced")]
    pass_s = [p["s"] for p in w.passes if not p["traced"]]
    return {
        "setup_s": (w.setup_s, "s"),
        "pass_s": (float(statistics.median(pass_s)), "s"),
        "op_ms": (_quantile(times, 0.5), "ms"),
        "op_ms_p90": (_quantile(times, 0.9), "ms"),
    }


def per_layer(w: Workload) -> dict[str, tuple[float, str]]:
    """Every per-layer metric, from the traced passes. Layer times and counts
    are per pass (median over passes of the pass total) unless named per
    op; a layer the workload does not use reads 0."""
    traced_passes = [i for i, p in enumerate(w.passes) if p["traced"]]
    ops = [o for o in w.ops if o.get("traced")]

    def pp(key, pred=lambda o: True) -> float:
        return _per_pass([o for o in ops if pred(o)], key, traced_passes)

    def op_median(pred, key="ms") -> float:
        vals = [o[key] for o in ops if pred(o) and key in o]
        return float(statistics.median(vals)) if vals else 0.0

    persisted = w.persisted or [(0, 0.0)]
    out: dict[str, tuple[float, str]] = {
        "session.build_session_s": (w.counters["session.build_session_s"], "s"),
        "session.ship_package_s": (w.counters["session.ship_package_s"], "s"),
        "session.jvm_peak_rss_mb": (w.jvm_peak_rss_mb(), "MB"),
        "setup.warm_passes": (w.counters["setup.warm_passes"], "count"),
        "setup.check_s": (w.check_s, "s"),
        "operators.build_ms": (pp("operators.build.ms"), "ms"),
        "operators.build_jobs": (pp("operators.build.jobs"), "count"),
        "operators.build_task_ms": (pp("operators.build.task_run_ms"), "ms"),
        "operators.persisted_rdds": (float(statistics.median(p[0] for p in persisted)), "count"),
        "operators.persisted_mb": (float(statistics.median(p[1] for p in persisted)), "MB"),
        "plans.ms": (pp("plans.ms"), "ms"),
        "plans.analysis_ms": (pp("plans.analysis_ms"), "ms"),
        "plans.optimization_ms": (pp("plans.optimization_ms"), "ms"),
        "plans.planning_ms": (pp("plans.planning_ms"), "ms"),
        "plans.exchanges": (pp("plans.exchanges"), "count"),
        "exec.run_ms": (pp("exec.ms"), "ms"),
    }
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("task_run_ms", "ms"), ("task_cpu_ms", "ms"), ("gc_ms", "ms"),
                    ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB")):
        out[f"exec.{k}"] = (pp(f"exec.{k}"), unit)
    run_ms = out["exec.run_ms"][0]
    out["exec.slot_busy_ratio"] = (out["exec.task_run_ms"][0] / (run_ms * w.cpus) if run_ms else 0.0, "ratio")

    is_scan = lambda o: "parts" in o  # noqa: E731
    for n in (1, 4, 16):
        out[f"sources.jdbc.scan_build_ms.p{n}"] = (
            op_median(lambda o, n=n: o.get("parts") == n, "sources.jdbc.scan_build.ms"), "ms")
    out["sources.jdbc.scan_run_ms"] = (pp("exec.ms", is_scan), "ms")
    fetched = pp("exec.input_records", is_scan)
    out["sources.jdbc.rows_fetched"] = (fetched, "count")
    out["sources.jdbc.fetch_useful_ratio"] = (pp("rows_returned", is_scan) / fetched if fetched else 0.0, "ratio")
    out["sources.jdbc.catalog_agg_ms"] = (op_median(lambda o: o["name"] == "catalog_agg"), "ms")
    out["sources.jdbc.read_op_ms"] = (op_median(lambda o: o["kind"] == "read"), "ms")
    is_write = lambda o: o["kind"] == "write"  # noqa: E731
    out["sinks.write_op_ms"] = (op_median(is_write), "ms")
    out["sinks.write_jdbc_atomic_ms"] = (op_median(is_write, "sinks.write_jdbc_atomic.ms"), "ms")
    out["sinks.staging_job_ms"] = (op_median(is_write, "sinks.write_jdbc_atomic.job_ms"), "ms")
    for o in ops:
        if is_write(o) and "sinks.write_jdbc_atomic.ms" in o:
            o["publish_ms"] = o["sinks.write_jdbc_atomic.ms"] - o.get("sinks.write_jdbc_atomic.job_ms", 0.0)
    out["sinks.publish_ms"] = (op_median(is_write, "publish_ms"), "ms")
    for name in (n for cohort in COHORTS.values() for n in cohort):
        out[f"entry.{name}.op_ms"] = (op_median(lambda o, n=name: o["name"] == n), "ms")

    # tracing: self time per span name (per pass) and the overhead of tracing
    spans = [s for s in w.rec.spans if s["end"] is not None]
    selft = self_times_ms(spans)
    for name in ("op", "operators.build", "plans", "exec", "sources.jdbc.scan_build",
                 "sources.jdbc.catalog_build", "sinks.write_jdbc_atomic"):
        total = sum(selft[s["id"]] for s in spans if s["name"] == name)
        out[f"self.{name}_ms"] = (total / max(1, len(traced_passes)), "ms")
    untraced = [p["s"] for p in w.passes if not p["traced"]]
    traced = [p["s"] for p in w.passes if p["traced"]]
    out["trace.pass_s"] = (float(statistics.median(traced)), "s")
    out["trace.overhead_s"] = (float(statistics.median(traced) - statistics.median(untraced)), "s")
    out["trace.spans"] = (float(len(spans)), "count")
    out["trace.ops"] = (float(len(ops)), "count")
    return out
