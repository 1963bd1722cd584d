"""One benchmark run: session, set-up, timed passes, checks, metrics.

One client, closed loop: every public call is made from this driver
thread and the next one starts only after the previous one returned (and
its output was consumed).  A *pass* is one sequence of the workload's
public calls; the run repeats passes until the measuring budget would be
exceeded by one more.  A call that raises, or whose output check fails,
counts as failed; the run goes on with the next pass.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

from . import procstat
from .stats import check_metric_name, median


class PassAborted(Exception):
    """A call in the pass failed; the rest of the pass depends on it."""


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 root: str, work: str, spec: dict) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = root
        self.work = work
        self.spec = spec
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.calls: list[dict] = []  # timed calls, in order
        self.pass_walls: list[float] = []
        self.pass_cpu: list[float] = []
        self.recording = False
        self.pass_idx = -1
        self.attempted = 0
        self.failed = 0
        self.info: dict[str, float] = {}  # workload numbers (headline, layer)

    # ---- session -------------------------------------------------------
    def session_conf(self) -> dict:
        """Fit the session to this host without touching the program:
        cores from the CPU affinity mask, driver heap below physical RAM,
        scratch space inside the checkout, no console progress bars."""
        phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
        heap_gb = max(1, min(4, int(phys_gb // 4)))
        conf = {
            "spark.driver.memory": f"{heap_gb}g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.defaultJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
            ),
        }
        if self.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.rolling.enabled": "true",
                    "spark.eventLog.compress": "true",
                }
            )
        return conf

    def start_session(self) -> None:
        from etl_sql_duckdb_parquet__spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(cores=self.cores, extra_conf=self.session_conf())
        self.info["session.get_spark_s"] = time.perf_counter() - t0
        self._gateway = self.spark.sparkContext._gateway

    def stop_session(self) -> None:
        """Stop Spark, then the JVM, and wait until it and the Python
        workers under it have exited."""
        if self.spark is None:
            return
        proc = getattr(self._gateway, "proc", None)
        children = [p for p in procstat.descendants(os.getpid()) if p != os.getpid()]
        self.spark.stop()
        self.spark = None
        with contextlib.suppress(Exception):
            self._gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while children and time.monotonic() < deadline:
            children = [p for p in children if procstat.alive(p)]
            time.sleep(0.1)
        for p in children:  # workers that outlived the 30 s grace period
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)

    # ---- calls and checks ----------------------------------------------
    @contextlib.contextmanager
    def call(self, name: str):
        """Time one public call.  Outside the measured passes (set-up,
        warm-up) the call runs untimed.  In the traced run the call's
        Spark jobs carry the job group ``<workload>.<name>`` and the
        JVM/worker CPU is sampled around it."""
        # a DataFrame cached by an earlier call must not serve this one
        self.spark.catalog.clearCache()
        if not self.recording:
            yield
            return
        sc = self.spark.sparkContext
        group = f"{self.workload.name}.{name}"
        if self.trace:
            # the group id only: setJobGroup's description would replace
            # the call sites the stage spans are named by
            sc.setLocalProperty("spark.jobGroup.id", group)
            cpu0 = procstat.cpu_seconds(os.getpid())
        rec = {"name": name, "pass": self.pass_idx, "ok": True}
        self.calls.append(rec)
        self.attempted += 1
        rec["start_ms"] = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield
        except Exception:
            rec["ok"] = False
            self.failed += 1
            print(f"[perfbench] call {group} failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            raise PassAborted(name) from None
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end_ms"] = time.time() * 1000.0
            if self.trace:
                cpu1 = procstat.cpu_seconds(os.getpid())
                rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu1}
                sc.setLocalProperty("spark.jobGroup.id", None)

    def check(self, ok: bool, what: str) -> bool:
        """Attach an output check to the last timed call; a failed check
        marks that call failed (once) and is reported on stderr."""
        if ok or not self.recording:
            if not ok:
                raise RuntimeError(f"set-up check failed: {what}")
            return ok
        rec = self.calls[-1]
        print(f"[perfbench] check failed after {rec['name']}: {what}", file=sys.stderr)
        if rec["ok"]:
            rec["ok"] = False
            self.failed += 1
        return ok

    @staticmethod
    def _cpu_s() -> float:
        """CPU seconds used so far by this driver, the JVM and its workers."""
        tree = procstat.cpu_seconds(os.getpid())
        return time.process_time() + tree["jvm_cpu_s"] + tree["pyworker_cpu_s"]

    def walls(self, name: str) -> list[float]:
        return [c["wall_s"] for c in self.calls if c["name"] == name and c["ok"]]

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    # ---- the run --------------------------------------------------------
    def run(self) -> dict:
        t0 = time.perf_counter()
        self.start_session()
        t1 = time.perf_counter()
        self.workload.setup(self)
        t2 = time.perf_counter()
        self.workload.warm_up(self)  # untimed
        t3 = time.perf_counter()
        setup_s = t3 - t0
        self.info["setup.inputs_s"] = t2 - t1
        self.info["setup.warmup_s"] = t3 - t2
        print(f"[perfbench] set-up {setup_s:.1f} s: session {t1 - t0:.1f}, "
              f"inputs {t2 - t1:.1f}, warm-up {t3 - t2:.1f}", file=sys.stderr)

        self.recording = True
        t_meas = time.perf_counter()
        steal0 = procstat.host_steal_s()
        while True:
            self.pass_idx += 1
            n_calls = len(self.calls)
            cpu0 = self._cpu_s()
            with contextlib.suppress(PassAborted):
                self.workload.run_pass(self)
            self.pass_cpu.append(self._cpu_s() - cpu0)
            walls = [c["wall_s"] for c in self.calls[n_calls:]]
            self.pass_walls.append(sum(walls))
            spent = time.perf_counter() - t_meas
            done = self.pass_idx + 1
            if done >= self.workload.min_passes and spent + spent / done > self.seconds:
                break
        self.recording = False
        # share of the CPUs the host took away while the passes ran
        steal = (procstat.host_steal_s() - steal0) / (
            (time.perf_counter() - t_meas) * os.cpu_count()
        )

        if self.trace:
            self.workload.probe_layers(self)
        rss = procstat.peak_rss_mb(os.getpid())
        self.stop_session()

        head = {"setup_s": setup_s, "peak_rss_mb": rss,
                "failed_frac": self.failed / self.attempted,
                "pass_cpu_s": median(self.pass_cpu), "host_steal_frac": steal}
        head.update(self.workload.headline(self))
        walls: dict[str, list[float]] = {}
        for c in self.calls:
            walls.setdefault(c["name"], []).append(round(c["wall_s"], 4))
        print(json.dumps({"workload": self.workload.name, "seed": self.seed,
                          "passes": len(self.pass_walls), "headline": head,
                          "call_walls": walls}))
        if not self.trace:
            values = {
                "setup_s": setup_s,
                "pass_s": median(self.pass_walls),
                "pass_cpu_s": median(self.pass_cpu),
                "peak_rss_mb": rss,
            }
            self._save_untraced(values["pass_s"])
            metrics = self._emit(values, "end_to_end")
        else:
            metrics = self._emit(self._layer_metrics(), "per_layer")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    # ---- metrics ----------------------------------------------------------
    def _emit(self, values: dict, kind: str) -> dict:
        """Every metric BENCHMARK.json lists under ``kind``, with its unit.
        A layer this workload never enters reads 0."""
        out = {}
        for m in self.spec[kind]:
            name = check_metric_name(m["name"])
            v = values.get(name)
            if v is None and kind == "end_to_end":
                raise KeyError(f"end-to-end metric {name} not measured")
            out[name] = {"value": float(v or 0.0), "unit": m["unit"]}
        unknown = set(values) - set(out)
        if unknown:
            raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
        return out

    def _untraced_path(self) -> str:
        return os.path.join(self.root, ".perfbench", f"untraced_{self.workload.name}.json")

    def _save_untraced(self, pass_s: float) -> None:
        with open(self._untraced_path(), "w") as f:
            json.dump({"pass_s": pass_s}, f)

    def _layer_metrics(self) -> dict:
        from . import eventlog

        log = eventlog.fold_log(eventlog.read_events(os.path.join(self.work, "eventlog")))
        traces = eventlog.attribute(log, self.calls)
        trace_id = f"{self.workload.name}-seed{self.seed}"
        span_file = os.path.join(self.root, ".perfbench", f"spans_{trace_id}.json")
        with open(span_file, "w") as f:
            json.dump(eventlog.spans(traces, trace_id), f)
        print(f"[perfbench] spans: {span_file}", file=sys.stderr)

        reused = 0
        for c, t in zip(self.calls, traces):
            if t.reused_stages:
                reused += len(t.reused_stages)
                print(f"[perfbench] {c['name']} reused stages {t.reused_stages}",
                      file=sys.stderr)
                if c["ok"]:
                    c["ok"] = False
                    self.failed += 1
        n_pass = len(self.pass_walls)
        pass_s = median(self.pass_walls)
        values = dict(self.info)
        values.update(
            {
                "trace.pass_s": pass_s,
                "trace.reused_stages": reused,
                "proc.jvm_cpu_s": sum(c["cpu"]["jvm_cpu_s"] for c in self.calls) / n_pass,
                "proc.pyworker_cpu_s": sum(
                    c["cpu"]["pyworker_cpu_s"] for c in self.calls
                ) / n_pass,
            }
        )
        try:
            with open(self._untraced_path()) as f:
                base = json.load(f)["pass_s"]
            values["trace.overhead_frac"] = pass_s / base - 1.0
        except (OSError, KeyError, ValueError):
            print("[perfbench] no untraced run of this workload in this checkout "
                  "yet: trace.overhead_frac reads 0", file=sys.stderr)
        values.update(self.workload.layer_metrics(self, traces))
        return values

    def encode_layer(self, traces, call_name: str, kernel_cpu_s: float) -> dict:
        """``encode.*`` from the trace of the named call (median over passes)."""
        from .eventlog import encode_split

        rows = []
        for t, c in zip(traces, self.calls):
            if t.name != call_name or not c["ok"]:
                continue
            r = {"wall_s": t.wall_s}
            r.update(encode_split(t))
            r["shuffle_write_bytes"] = t.total("shuffle.write.bytesWritten")
            r["executor_cpu_s"] = t.total("executorCpuTime") / 1e9
            r["jvm_gc_s"] = t.total("jvmGCTime") / 1e3
            r["spark_jobs"] = len(t.jobs)
            r["parallel_eff"] = t.total("executorRunTime") / 1e3 / (t.wall_s * self.cores)
            rows.append(r)
        if not rows:
            return {}
        out = {f"encode.{k}": median(r[k] for r in rows) for k in rows[0]}
        out["encode.kernel_cpu_s"] = kernel_cpu_s
        return out
