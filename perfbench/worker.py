"""One benchmark run inside a fresh process (started by ``run.py``).

Sets up the program with its own defaults, runs an untimed warm-up pass
that also checks every query's output against its DuckDB oracle,
then issues operations from a single closed-loop client until the time is
up. Writes the result as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import subprocess
import sys
import time
import traceback

from perfbench import measure, oracle, sparkstats, tracing, workloads
from perfbench.workloads import LEDGER_NIGHTS, OUTCOME_LAG

# Schedules are generated this long up front; a run never gets near them.
MAX_OPS = 5000
# Untimed passes over the query list before timing, by workload. An
# analyst's session stays warm, and research's short queries keep getting
# cheaper for several passes while the JVM compiles their code paths; a
# nightly job starts a fresh process each night, so its timed night is the
# first in its JVM.
WARM_PASSES = {"nightly": 0, "research": 2, "curation": 1}
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER_KEYS = ["night", "suppkey"]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.data_dir = args.data
        self.tmp = args.tmp
        self.ledger = os.path.join(self.tmp, "ledger")
        self.signals = os.path.join(self.tmp, "signals")
        self.tracer = tracing.Tracer()
        self.checked = 0  # outputs compared with an oracle or a replay
        self.failures: list[str] = []
        self.walls: list[float] = []
        self.cpus: list[float] = []  # CPU seconds of each timed operation
        self.labels: list[str] = []  # what each timed operation ran
        self.traced: list[bool] = []
        self.commit_walls: list[float] = []
        self.spark_totals: list[dict[str, float]] = []
        self.nights_done = 0
        self._oracles: dict = {}

    # -- setup -------------------------------------------------------------
    def setup(self) -> None:
        c0, t0 = measure.session_cpu_s(), time.perf_counter()
        from profitscout_engine_spark.session import get_spark

        self.spark = get_spark()
        t1 = time.perf_counter()
        from profitscout_engine_spark.queries import load_registry

        self.registry = load_registry()
        t2 = time.perf_counter()
        self.get_spark_s, self.load_registry_s = t1 - t0, t2 - t1
        self.duck = oracle.connect(self.data_dir)
        self.stages = sparkstats.StageReader(self.spark)
        self.stages.begin("warmup")
        self._warm_up()
        self.warmup_s = time.perf_counter() - t2
        if self.workload == "nightly":
            self.nights = workloads.night_schedule(self.seed, LEDGER_NIGHTS + MAX_OPS)
            self._seed_ledger()
            if self.trace:
                # Traced and untraced nights are compared in pairs, so both
                # must be warm: the JVM's first night runs here, untimed.
                self._check_outputs(self._night(LEDGER_NIGHTS))
        self.setup_s = time.perf_counter() - t0
        self.setup_cpu_s = measure.session_cpu_s() - c0

    def _warm_up(self) -> None:
        """Untimed: run the workload's queries WARM_PASSES times to the noop
        sink, from a cold shared-frame state. Outputs are checked on the
        timed operations instead, once each operation's time is taken."""
        from profitscout_engine_spark.queries._util import reset_shared

        reset_shared()
        self.spark.catalog.clearCache()
        for _ in range(WARM_PASSES[self.workload]):
            for name in workloads.WORKLOAD_QUERIES[self.workload]:
                self._sink(name, self._build(name), "noop")

    def _seed_ledger(self) -> None:
        """The history nights in one commit; nights old enough to have
        outcomes carry a placeholder one."""
        from profitscout_engine_spark.sources import txn

        history = self.nights[:LEDGER_NIGHTS]
        resolved = LEDGER_NIGHTS - OUTCOME_LAG
        nights = self.spark.createDataFrame(
            [(n, 0.0 if j < resolved else None) for j, n in enumerate(history)],
            "night int, outcome_pct double",
        )
        signals = self._build("scanner_rank")
        txn.commit_snapshot(signals.crossJoin(nights), self.ledger, partition_col="night")

    # -- operations ---------------------------------------------------------
    def _build(self, name: str):
        spec = self.registry[name]
        with self.tracer.span(f"{tracing.query_module(spec.fn)}.build"):
            return spec.fn(self.spark, self.data_dir)

    def _sink(self, name: str, df, sink: str):
        """Execute ``df`` completely: to the noop sink ("noop") or collected
        ("collect"). Returns the collected frame, or None."""
        with self.tracer.span(f"{tracing.query_module(self.registry[name].fn)}.exec"):
            if sink == "noop":
                df.write.format("noop").mode("overwrite").save()
                return None
            return df.toPandas()

    def _collect(self, name: str):
        """Run query ``name`` collected; returns what the caller checks."""
        got = self._sink(name, self._build(name), "collect")
        return name, lambda: got

    def _check(self, name: str, got) -> None:
        if name not in self._oracles:
            self._oracles[name] = self.duck.sql(self.registry[name].oracle).df()
        reason = oracle.mismatch(got, self._oracles[name])
        if reason is not None:
            self.failures.append(f"{name}: {reason}")

    def _check_outputs(self, outputs: list) -> None:
        """Check each (query name, fetch function) pair against its oracle."""
        for name, fetch in outputs:
            self.checked += 1
            try:
                self._check(name, fetch())
            except Exception:
                self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
                traceback.print_exc()

    def _commit(self, fn, *args, **kwargs):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.commit_walls.append(time.perf_counter() - t0)
        return out

    def _night(self, index: int) -> list:
        """One night, cold: the nightly chain with its outputs written
        through the program's sources or collected. Returns the outputs to
        check, each as (query name, function that fetches the output)."""
        from pyspark.sql import functions as F

        from profitscout_engine_spark.queries._util import reset_shared
        from profitscout_engine_spark.sources import io, txn

        night = self.nights[index]
        reset_shared()
        self.spark.catalog.clearCache()

        rows = (
            self._build("scanner_rank")
            .withColumn("night", F.lit(night))
            .withColumn("outcome_pct", F.lit(None).cast("double"))
        )
        self._commit(txn.merge_upsert_txn, self.spark, self.ledger, rows, LEDGER_KEYS, partition_col="night")

        enriched = self._build("enrichment_pipeline").withColumn("night", F.lit(night))
        self._commit(io.overwrite_day_partition, enriched, self.signals, "night")

        # Written outputs are read back for the check after the night.
        outputs = [
            (
                "scanner_rank",
                lambda: txn.read_versioned(self.spark, self.ledger)
                .where(F.col("night") == night)
                .drop("night", "outcome_pct")
                .toPandas(),
            ),
            (
                "enrichment_pipeline",
                lambda: self.spark.read.parquet(os.path.join(self.signals, f"night={night}")).toPandas(),
            ),
        ]
        for name in ("enrichment_news_rollup", "consensus_tally", "trader_pipeline", "wintracker_pipeline"):
            outputs.append(self._collect(name))
        wins = outputs[-1][1]()
        outcome = float(wins["peak_pct"].dropna().median())
        lagged = self.nights[index - OUTCOME_LAG]
        outcomes = (
            txn.read_versioned(self.spark, self.ledger)
            .where(F.col("night") == lagged)
            .select(*LEDGER_KEYS)
            .withColumn("outcome_pct", F.lit(outcome))
        )
        self._commit(txn.merge_upsert_txn, self.spark, self.ledger, outcomes, LEDGER_KEYS, partition_col="night")

        expired = F.col("night") < self.nights[index - (LEDGER_NIGHTS - 1)]
        self._commit(txn.delete_where_txn, self.spark, self.ledger, expired, partition_col="night")
        txn.vacuum(self.ledger, keep=2)
        self.nights_done += 1
        return outputs

    def _op(self, k: int) -> list:
        """Timed operation ``k``: a night, a query, or a curation pass.
        Returns the outputs the caller checks once the operation's time is
        taken, each as (query name, function that fetches the output)."""
        if self.workload == "nightly":
            index = LEDGER_NIGHTS + self.nights_done
            self.labels.append(f"night {self.nights[index]}")
            return self._night(index)
        if self.workload == "research":
            name = self.schedule[k // 2 if self.trace else k]
            self.labels.append(name)
            return [self._collect(name)]
        self.labels.append(f"pass {k}")
        from profitscout_engine_spark.queries._util import reset_shared

        reset_shared()
        self.spark.catalog.clearCache()
        return [self._collect(name) for name in self.schedule[k]]

    def run_ops(self) -> None:
        """Closed loop, one client: the next operation starts when the last
        one ends. In a traced run operations come in pairs, one traced and
        one not, alternating which goes first; research repeats the query
        within a pair, nightly and curation take the next night or pass.
        The loop stops at the first stop point after the deadline."""
        self.schedule = workloads.schedule(self.workload, self.seed, MAX_OPS)
        steal0, total0 = measure.cpu_ticks()
        deadline = time.perf_counter() + self.seconds
        k = 0
        while True:
            traced = self.trace and (k % 2 == 0) == ((k // 2) % 2 == 0)
            op_id = f"op-{k}"
            self.stages.begin(op_id)
            self.tracer.op = op_id
            outputs = []
            c0 = measure.session_cpu_s()
            t0 = time.perf_counter()
            try:
                with tracing.instrumented(self.tracer) if traced else contextlib.nullcontext():
                    self.tracer.enabled = traced
                    with self.tracer.span("op"):
                        outputs = self._op(k)
            except Exception:
                self.failures.append(f"{op_id}: {traceback.format_exc(limit=3)}")
                traceback.print_exc()
            finally:
                self.tracer.enabled = False
            self.walls.append(time.perf_counter() - t0)
            self.cpus.append(measure.session_cpu_s() - c0)
            self.traced.append(traced)
            if traced:
                self.spark_totals.append(self.stages.totals(op_id))
            self._check_outputs(outputs)
            k += 1
            if time.perf_counter() >= deadline and workloads.stop_point(self.workload, k, self.trace):
                break
        steal1, total1 = measure.cpu_ticks()
        self.steal_ratio = (steal1 - steal0) / max(1, total1 - total0)

    # -- checks and results -------------------------------------------------
    def check_ledger(self) -> None:
        """The live ledger against an independent replay of the night
        schedule: the (night, key) set, the row count, and which rows have
        outcomes. Reads the snapshot with DuckDB, not Spark."""
        from profitscout_engine_spark.sources import txn

        self.checked += 1
        keys = self.duck.sql(self.registry["scanner_rank"].oracle).df()["suppkey"].tolist()
        want, want_outcome = workloads.ledger_replay(self.nights, self.nights_done, keys)
        live = txn.snapshot_path(self.ledger, txn.current_version(self.ledger))
        rows = self.duck.sql(
            f"SELECT night, suppkey, outcome_pct IS NOT NULL FROM "
            f"read_parquet('{live}/*/*.parquet', hive_partitioning = true)"
        ).fetchall()
        got = {(int(n), int(k)) for n, k, _ in rows}
        got_outcome = {(int(n), int(k)) for n, k, has in rows if has}
        if len(rows) != len(want) or got != want or got_outcome != want_outcome:
            self.failures.append(
                f"ledger: {len(rows)} rows, {len(got ^ want)} keys differ, "
                f"{len(got_outcome ^ want_outcome)} outcomes differ from the replay"
            )
        self.space_amp = measure.space_amplification(self.ledger, live)

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return measure.vm_hwm_mb(jvm_pid) + measure.vm_hwm_mb()

    def layer_metrics(self) -> dict[str, float]:
        """Per-operation means over the traced operations of each layer's
        self time and counts, plus the ratios and the tracing overhead."""
        n = sum(self.traced)
        out = dict.fromkeys((name for name, _, _ in workloads.PER_LAYER), 0.0)
        out["driver.peak_rss_mb"] = self.peak_rss_mb()
        out["session.get_spark_s"] = self.get_spark_s
        out["queries.load_registry_s"] = self.load_registry_s
        spans = self.tracer.spans
        span_metric = {
            "catalog.table": "catalog.table_s",
            "shared.build": "shared.build_s",
            "io.overwrite_day_partition": "io.overwrite_day_partition_s",
            "txn.merge": "txn.merge_s",
            "txn.delete": "txn.delete_s",
            "txn.vacuum": "txn.vacuum_s",
            "txn.read_versioned": "txn.read_versioned_s",
        }
        span_count = {
            "catalog.table": "catalog.table_calls",
            "shared": "shared.calls",
            "shared.build": "shared.builds",
        }
        for m in workloads.QUERY_MODULES:
            span_metric[f"{m}.build"] = f"{m}.build_s"
            span_metric[f"{m}.exec"] = f"{m}.exec_s"
            span_count[f"{m}.build"] = f"{m}.calls"
        for s, self_s in zip(spans, tracing.self_times(spans)):
            if s.name in span_metric:
                out[span_metric[s.name]] += self_s / n
            if s.name in span_count:
                out[span_count[s.name]] += 1 / n
        for name, v in self.tracer.counts.items():
            out[name] += v / n
        if out["shared.calls"]:
            out["shared.hit_ratio"] = 1 - out["shared.builds"] / out["shared.calls"]
        for totals in self.spark_totals:
            for name, v in totals.items():
                out[name] += v / n
        traced_wall = sum(w for w, t in zip(self.walls, self.traced) if t)
        out["spark.core_busy_ratio"] = out["spark.executor_run_s"] * n / (traced_wall * _nproc())
        if self.commit_walls:
            out["txn.commit_p50_s"] = measure.median(self.commit_walls)
        out["txn.ledger_space_amp"] = getattr(self, "space_amp", 0.0)
        pairs = [
            (self.walls[i], self.walls[i + 1]) if self.traced[i] else (self.walls[i + 1], self.walls[i])
            for i in range(0, len(self.walls) - 1, 2)
        ]
        out["trace.overhead_ratio"] = measure.median([t / u for t, u in pairs])
        return out

    def provenance(self) -> dict:
        import duckdb
        import pyspark

        conf = self.spark.conf
        return {
            "git_sha": _git_sha(REPO_ROOT),
            "source_sha256": _source_sha256(REPO_ROOT),
            "nproc": _nproc(),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
            "data_dir": os.path.relpath(self.data_dir, REPO_ROOT),
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "master": self.spark.sparkContext.master,
            "confs": {
                k: conf.get(k, None)
                for k in (
                    "spark.sql.shuffle.partitions",
                    "spark.sql.adaptive.enabled",
                    "spark.sql.adaptive.coalescePartitions.enabled",
                    "spark.sql.adaptive.skewJoin.enabled",
                )
            },
        }

    def result(self) -> dict:
        attempted = len(self.walls) + self.checked
        failed = len(self.failures)
        walls = self.walls
        tail = measure.tail_percentile(walls)
        details = {
            "provenance": self.provenance(),
            "samples": {"setup_s": 1, "op": len(walls), "commits": len(self.commit_walls)},
            # Each operation: what it ran, its wall seconds, its CPU seconds.
            "ops": [[label, round(w, 4), round(c, 2)] for label, w, c in zip(self.labels, walls, self.cpus)],
            "op_p50_s": measure.median(walls),
            "op_tail": None if tail is None else {"pct": tail[0], "s": tail[1]},
            "ops_per_s": len(walls) / sum(walls),
            "failed_ratio": failed / attempted,
            "host_steal_ratio": self.steal_ratio,
            "setup_parts_s": {
                "get_spark": self.get_spark_s,
                "load_registry": self.load_registry_s,
                "warm_up": self.warmup_s,
            },
            "setup_cpu_s": self.setup_cpu_s,
            "peak_rss_mb": self.peak_rss_mb(),
            "failures": self.failures[:20],
        }
        if self.workload == "nightly":
            details["nights_done"] = self.nights_done
            details["commit_p50_s"] = measure.median(self.commit_walls) if self.commit_walls else None
            details["ledger_space_amp"] = self.space_amp
        if self.trace:
            specs, values = workloads.PER_LAYER, self.layer_metrics()
        else:
            specs = workloads.END_TO_END
            values = {"setup_s": self.setup_s, "op_cpu_s": sum(self.cpus) / len(self.cpus)}
        metrics = {name: {"value": values[name], "unit": unit} for name, unit, _ in specs}
        return {
            "details": details,
            "result": {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics},
        }


def _git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _source_sha256(root: str) -> str:
    """Hash of the program's Python sources, for checkouts without git."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "profitscout_engine_spark")
    for dirpath, dirnames, names in os.walk(pkg):
        dirnames.sort()
        for name in sorted(names):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOAD_QUERIES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--tmp", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--spans")
    args = p.parse_args()

    run = Run(args)
    run.setup()
    run.run_ops()
    if run.workload == "nightly":
        run.check_ledger()
    out = run.result()
    if args.spans and run.trace:
        run.tracer.dump(args.spans)
    run.spark.stop()
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
