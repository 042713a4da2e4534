"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pip_join --seed 1 --seconds 10 --trace 0

Closed loop, one client: the run sends one batch job at a time into
local[4N] (4N from the affinity mask) and times it from outside.  With
``--trace 0`` it prints the end-to-end metrics; with ``--trace 1`` it keeps
spans around each call into the engine's layers, reads Spark's status
stores after the actions, prints the per-layer metrics and writes the spans
to ``.perfbench_work/traces/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness as H  # noqa: E402

END_TO_END = {"setup_s": "s", "cold_s": "s", "rows_per_s": "1/s",
              "scaling_eff": "ratio", "peak_rss_mb": "MB"}

PER_LAYER = {
    "table.stage_s": "s", "table.scan_s": "s", "table.scan_bytes": "B",
    "index.cover_s": "s", "index.cover_cells": "count", "index.encode_s": "s",
    "join.plan_s": "s", "join.plan_jobs": "count", "join.exec_s": "s",
    "join.candidates": "count", "join.refine_yield": "ratio",
    "join.shuffle_bytes": "B", "join.fetch_wait_s": "s",
    "join.task_p50_s": "s", "join.task_max_s": "s",
    "raster.assign_s": "s", "raster.merge_s": "s", "raster.shell_s": "s",
    "raster.tiles_per_image": "ratio", "raster.py_sent_bytes": "B",
    "raster.py_returned_bytes": "B", "raster.py_run_s": "s",
    "raster.decode_us": "us", "raster.encode_us": "us",
    "knn.plan_s": "s", "knn.exec_s": "s", "knn.jobs": "count",
    "knn.candidates_per_query": "ratio",
    "plans.write_s": "s", "plans.resume_s": "s", "plans.parts_missing": "count",
    "plans.parts_rerun": "count", "plans.bytes_written": "B",
    "spark.gc_s": "s", "spark.spill_bytes": "B", "spark.py_worker_start_s": "s",
    "job.output_rows": "count", "trace.overhead_pct": "%",
}

SETUP_REPS = 3      # corpus staging repeats; setup_s uses their median
WARMUP_S = 2.0      # untimed executions after the cold one, for this long
MIN_SAMPLES = 3     # traced and untraced executions each, in a traced run
MIN_ROUNDS = 2      # 4N, N, 4N rounds, even when --seconds is short


class Runner:
    def __init__(self, args):
        from perfbench import workloads

        self.args = args
        cpus = H.affinity()
        self.n, self.n4 = H.scaling_levels(cpus)
        self.cpus = cpus[: self.n4]
        base = os.path.join(H.ROOT, ".perfbench_work")
        for d in os.listdir(base) if os.path.isdir(base) else []:
            # tables and checkpoints a run that has ended left behind
            if d.startswith("run-") and not os.path.exists(f"/proc/{d[4:]}"):
                H.rmtree(os.path.join(base, d))
        self.work = os.path.join(base, f"run-{os.getpid()}")
        self.traces = os.path.join(base, "traces")
        self.wl = workloads.WORKLOADS[args.workload](args.seed, args.scale, self.work)
        self.attempted = self.failed = 0
        self.outputs: list = []

    def job(self, tr) -> float | None:
        """One batch job; returns its wall time, or None when it raised.
        Its result is kept for the output check."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("job"):  # parent of the job's plan and exec spans
                ret = self.wl.run(self.spark, tr)
            sec = time.perf_counter() - t0
            out = self.wl.output(self.spark, ret)
        except Exception:  # keep measuring; the failure counts against the run
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            self.wl.cleanup(self.spark)
        if self.args.drop_row:
            out = out.iloc[1:]
        self.outputs.append(out)
        return sec

    def pin(self, cpus: list[int]) -> None:
        pid = H.jvm_pid(self.spark)
        H.pin([os.getpid(), pid] + H.descendants(pid), cpus)

    def main(self) -> dict:
        os.makedirs(self.work, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = H.start_session(self.work, self.n4)
        try:
            return self._run(t0)
        finally:
            H.stop_session(self.spark)
            H.rmtree(self.work)

    def _run(self, t0: float) -> dict:
        spark, trace = self.spark, bool(self.args.trace)
        self.pin(self.cpus)
        rss = H.RssSampler(H.jvm_pid(spark)).start()
        session_s = time.perf_counter() - t0
        tr = H.Tracer(spark, trace)
        off = H.Tracer(spark, False)

        # the first staging is also the generic warm-up: its image synthesis
        # is an Arrow stage at full width, which forks a Python worker per
        # core and pays the module imports before any workload's job runs
        stage = []
        for rep in range(SETUP_REPS):
            with tr.span("table.stage"):
                stage.append(self.wl.stage(spark, rep))
        t1 = time.perf_counter()
        with tr.span("setup.prepare"):
            self.wl.prepare(spark)
        setup_s = session_s + statistics.median(stage) + time.perf_counter() - t1

        t_cold = time.perf_counter()
        cold_s = self.job(tr)
        # untimed executions until the JIT has compiled the job's hot loops
        # (checked like the rest)
        warmup_end = time.perf_counter() + WARMUP_S
        while time.perf_counter() < warmup_end and self.failed < MIN_SAMPLES:
            self.job(off)
        gc0 = H.jvm_gc_s(spark)

        t_loop = time.perf_counter()
        warm, untraced, ratios = [], [], []
        if trace:
            self._traced_loop(warm, untraced, tr, off)
        else:
            self._scaling_loop(warm, ratios, off)
        gc_s = H.jvm_gc_s(spark) - gc0
        loop_spans = [s for s in tr.spans if s["name"].endswith(".exec")]

        t_check = time.perf_counter()
        want, bad = self.wl.check(spark, tr)
        if bad:  # an execution the check itself made (the resumed write)
            self.attempted += 1
            self.failed += 1
        for out in self.outputs:
            diff = self.wl.compare(out, want)
            self.failed += bool(diff)
            bad += diff
        for msg in bad[:20]:
            print(f"CHECK {self.wl.name}: {msg}", file=sys.stderr)
        expected = self.wl.output_rows(want)
        check_s = time.perf_counter() - t_check

        peak_mb = rss.stop()
        t4 = statistics.median(warm) if warm else 0.0
        if trace:
            metrics = {k: 0.0 for k in PER_LAYER}
            metrics.update(self._layers(tr, stage, gc_s, loop_spans))
            metrics["job.output_rows"] = expected
            metrics["trace.overhead_pct"] = (
                100.0 * (t4 / statistics.median(untraced) - 1.0) if untraced else 0.0)
            tr.dump(os.path.join(
                self.traces, f"{self.wl.name}-seed{self.args.seed}.json"))
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": setup_s,
                "cold_s": cold_s or 0.0,
                "rows_per_s": self.wl.input_rows / t4 if t4 else 0.0,
                "scaling_eff": statistics.median(ratios) if ratios else 0.0,
                "peak_rss_mb": peak_mb,
            }
            units = END_TO_END
        print(f"{self.wl.name}: seed={self.args.seed} input_rows={self.wl.input_rows} "
              f"({self.wl.unit}) output_rows={expected} cold={cold_s} "
              f"warm={[round(s, 3) for s in warm]} "
              f"t4N_med={t4:.4f}s eff={[round(r, 3) for r in ratios]} "
              f"levels=({self.n},{self.n4}) stage={[round(s, 3) for s in stage]} "
              f"rss_peak={peak_mb:.0f}MB phases: setup={t_cold - t0:.1f}s "
              f"cold+warmup={t_loop - t_cold:.1f}s loop={t_check - t_loop:.1f}s "
              f"check={check_s:.1f}s", file=sys.stderr)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()},
        }

    def _scaling_loop(self, warm: list, ratios: list, off) -> None:
        """Rounds of 4N, N, 4N executions for ``--seconds`` (at least
        MIN_ROUNDS).  Each round's N execution runs with the whole process
        tree re-pinned to the last N CPUs of the mask, and its ratio to the
        two 4N executions beside it is one efficiency sample, so a slow
        spell on the shared host weighs on both levels of a round alike.
        The N group stays the same: the CPUs of a shared VM are not equally
        fast, and moving between them would add their differences to the
        spread."""
        low_cpus = self.cpus[-self.n:]
        deadline = time.perf_counter() + self.args.seconds
        while ((time.perf_counter() < deadline or len(ratios) < MIN_ROUNDS)
               and self.failed < MIN_SAMPLES):
            a = self.job(off)
            self.pin(low_cpus)
            try:
                low = self.job(off)
            finally:
                self.pin(self.cpus)
            b = self.job(off)
            warm += [t for t in (a, b) if t]
            if a and b and low:
                ratios.append(low / (2 * (a + b)))

    def _traced_loop(self, warm: list, untraced: list, tr, off) -> None:
        """Warm executions at 4N for ``--seconds`` (at least MIN_SAMPLES of
        each kind), alternating traced and untraced: the two medians give
        the tracing overhead."""
        deadline = time.perf_counter() + self.args.seconds
        while ((time.perf_counter() < deadline or len(untraced) < MIN_SAMPLES)
               and self.failed < MIN_SAMPLES):
            traced_turn = len(untraced) >= len(warm)
            sec = self.job(tr if traced_turn else off)
            if sec is not None:
                (warm if traced_turn else untraced).append(sec)

    def _layers(self, tr, stage, gc_s, loop_spans) -> dict:
        from geowave_spark.table import snapshots as snap

        spark = self.spark
        rd = H.StatusReader(spark)
        with tr.span("table.scan") as scan:
            H.noop(snap.scan(spark, self.wl.corpus))
        scan_ops = rd.operators(scan["jobs"])
        loop_jobs = sorted({j for s in loop_spans for j in s["jobs"]})
        out = {
            "table.stage_s": statistics.median(stage),
            "table.scan_s": scan["end"] - scan["start"],
            "table.scan_bytes": sum(o["metrics"].get("size of files read", 0.0)
                                    for o in scan_ops if o["name"].startswith("Scan")),
            "spark.gc_s": gc_s,
            "spark.spill_bytes": H.stage_summary(rd.stages(loop_jobs))["spill_bytes"],
            "spark.py_worker_start_s": sum(
                o["metrics"].get("time to start Python workers", 0.0)
                for o in rd.operators(None)),
        }
        out.update(self.wl.layers(spark, tr, rd))
        self.attempted += self.wl.guest_attempted
        self.failed += self.wl.guest_failed
        return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["pip_join", "tile_mosaic", "skew_ckpt", "knn_rings"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="input sizes; tiny is for the benchmark's own tests")
    p.add_argument("--drop-row", action="store_true",
                   help="drop one row of every job's result before the check "
                        "(shows that a wrong output is counted as failed)")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(H.ROOT, "geowave_spark", "__init__.py")):
        print("perfbench: geowave_spark is not in this checkout", file=sys.stderr)
        return 2
    try:
        runner = Runner(args)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    result = runner.main()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
