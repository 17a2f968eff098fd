#!/usr/bin/env python3
"""Engine benchmark: one seeded workload in one fresh process.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed in a child process, and then:

1. sets up once, in this still fresh process, as a batch job pays for
   it: import of pyspark and the engine, ``get_spark`` (``local[nproc]``)
   with its JVM launch, import of the engine's registry, and input
   registration;
2. runs passes over the workload's calls, one call at a time, each pass
   on a fresh hard-link copy of the inputs so that no per-process memo
   turns a pass into a read: one cold pass, then the workload's fixed
   number of timed passes;
3. after the last timed pass, untimed, collects every call's result and
   compares its hash with the DuckDB oracle's over the same inputs.

The timed region is a fixed number of passes, not a time window: a pass
takes several seconds, so ``--seconds`` is accepted for the benchmark's
command-line interface and does not change the run.

With ``--trace 0`` it reports the end-to-end metrics ``setup_s`` (the
set-up), ``batch_cpu_s`` (CPU of the whole process tree over the cold
and the timed passes) and ``peak_rss_mb``, and prints ``cold_wall_s``
(the cold pass: what a one-shot batch job pays), ``wall_s`` and
``cpu_s`` (medians over the timed passes) and ``failed_frac`` beside
them on stderr. With ``--trace 1`` the first timed pass is traced, the
per-layer metrics come from it, and the spans are written to
``.perfbench_traces/``. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "map_reduce_framework_spark"
#: On a slow machine, the pass that starts after the run is this old is
#: the last, so that every run ends well within three minutes.
PASS_CUTOFF_S = 120.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def vhash(cols, rows) -> str:
    """Order-insensitive result hash: columns sorted by name, rows by
    their rendering."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = "\n".join(sorted("|".join(repr(r[i]) for i in order) for r in rows))
    return hashlib.md5(body.encode()).hexdigest()


class Spans:
    """In-memory spans: (id, parent, name, start, end, attrs), times in
    epoch milliseconds. Written out once, at exit."""

    def __init__(self):
        self.items: list[dict] = []

    def add(self, name, start_ms, end_ms, parent=None, **attrs) -> int:
        sid = len(self.items)
        self.items.append(
            {"id": sid, "parent": parent, "name": name,
             "start": start_ms, "end": end_ms, **attrs}
        )
        return sid

    def self_times(self) -> None:
        """A span's self time is its duration minus the part of it that
        its children cover."""
        from layers import busy_seconds

        kids: dict[int, list] = {}
        for s in self.items:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.items:
            covered = busy_seconds(kids.get(s["id"], []), s["start"], s["end"])
            s["self_s"] = (s["end"] - s["start"]) / 1e3 - covered


class Bench:
    def __init__(self, workload, seed: int, trace: bool, work: str):
        from layers import ProcessTree

        self.w = workload
        self.seed = seed
        self.trace = trace
        self.work = work
        self.base = os.path.join(work, "input")
        self.t_start = time.perf_counter()
        self.tree = ProcessTree()
        self.spans = Spans()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.n_pass = 0

    # -- set-up ------------------------------------------------------------

    def setup(self) -> dict:
        """Set up in this process, which has not imported pyspark or the
        engine yet."""
        from layers import now_ms

        t0, c0 = now_ms(), time.perf_counter()
        from map_reduce_framework_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            extra_conf={
                # keep the JVM's scratch files inside the run's directory
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        c1 = time.perf_counter()
        import map_reduce_framework_spark.registry  # noqa: F401

        c2 = time.perf_counter()
        from map_reduce_framework_spark.sources.io import load_table

        for t in self.w.tables:
            load_table(self.spark, self.base, t).schema
        c3 = time.perf_counter()
        t1, t2, t3 = (t0 + (c - c0) * 1e3 for c in (c1, c2, c3))
        sid = self.spans.add("setup", t0, t3)
        self.spans.add("get_spark", t0, t1, sid)
        self.spans.add("registry.import", t1, t2, sid)
        self.spans.add("inputs.register", t2, t3, sid)
        return {"get_spark_s": c1 - c0, "import_s": c2 - c1,
                "register_s": c3 - c2, "setup_s": c3 - c0}

    # -- passes ------------------------------------------------------------

    def _fresh_dir(self) -> str:
        import gen

        self.n_pass += 1
        d = os.path.join(self.work, f"pass{self.n_pass}")
        gen.link_copy(self.base, d)
        return d

    def _hygiene(self, d: str) -> None:
        """Between passes, as the engine's suite harness does: release
        every persistent RDD, then collect garbage on both sides."""
        sc = self.spark.sparkContext
        for jrdd in list(sc._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(False)
        gc.collect()
        sc._jvm.System.gc()
        shutil.rmtree(d, ignore_errors=True)

    def _pass(self, calls, traced: bool, label: str, frames=None) -> dict:
        """One pass over the calls on fresh input paths. With ``frames``
        (a dict), the calls' results are kept there and checked against
        the oracle once the pass is timed."""
        from layers import busy_seconds, job_metrics, now_ms

        status = self.status
        d = self._fresh_dir()
        rec = {"label": label, "traced": traced, "calls": {}}
        cpu0 = self.tree.cpu()
        job0 = status.next_job_id()
        p0, t0 = now_ms(), time.perf_counter()
        pid = self.spans.add(f"pass:{label}", p0, p0) if traced else None
        jobs_all = []
        for call in calls:
            self.attempted += 1
            c = {"build_s": 0.0, "action_s": 0.0, "plan_s": 0.0}
            b0, tb = now_ms(), time.perf_counter()
            jb = status.next_job_id()
            try:
                df = call.fn(self.spark, d)
                c["build_s"] = time.perf_counter() - tb
                ja = status.next_job_id()
                if traced:
                    tp = time.perf_counter()
                    df._jdf.queryExecution().executedPlan()
                    c["plan_s"] = time.perf_counter() - tp
                ta = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                c["action_s"] = time.perf_counter() - ta
                if frames is not None:
                    frames[call.name] = df
            except Exception as exc:  # a failed call must not hide the others
                self.failed += 1
                c["error"] = repr(exc)[:300]
                print(f"perfbench: {call.name} failed: {exc!r}"[:2000], file=sys.stderr)
                ja = status.next_job_id()
            je = status.next_job_id()
            c["wall_s"] = time.perf_counter() - tb
            c["jobs"] = je - jb
            c["build_jobs"] = ja - jb
            if traced:
                tt = time.perf_counter()
                b1 = now_ms()
                cid = self.spans.add(f"call:{call.name}", b0, b1, pid)
                bend = b0 + c["build_s"] * 1e3
                self.spans.add("build", b0, bend, cid, jobs=c["build_jobs"])
                self.spans.add("action", b1 - c["action_s"] * 1e3, b1, cid)
                jobs = status.jobs(jb, je)
                for j in jobs:
                    self.spans.add(
                        f"job{j['jobId']}", j["submissionTime"] or b0,
                        j["completionTime"] or b1, cid,
                        stages=len(j["stageIds"]), tasks=j["numTasks"],
                    )
                c["spark"] = job_metrics(jobs)
                jobs_all += jobs
                # time the pass spent in tracing itself: the plan probe
                # and the status-store reads
                c["trace_s"] = c["plan_s"] + time.perf_counter() - tt
            rec["calls"][call.name] = c
        rec["wall_s"] = time.perf_counter() - t0
        p1 = now_ms()
        cpu1 = self.tree.cpu()
        rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu1}
        rec["jobs"] = status.next_job_id() - job0
        if traced:
            self.spans.items[pid]["end"] = p1
            rec["spark"] = job_metrics(jobs_all)
            rec["gap_s"] = rec["wall_s"] - busy_seconds(
                [(j["submissionTime"] or p0, j["completionTime"] or p1)
                 for j in jobs_all],
                p0, p1,
            )
        rec.update(self._write_stats(d))
        if frames is not None:
            # the check's DuckDB and collected rows are not the program's
            self.tree.stop()
            rec["oracle_mismatches"] = self._verify(calls, frames)
        self._hygiene(d)
        return rec

    def _write_stats(self, d: str) -> dict:
        """Bytes and files the pass committed, against its input bytes."""
        from workloads import WRITE_STATS

        out = WRITE_STATS.get("out_dir")
        if not out or not out.startswith(d + os.sep):
            return {"write": None}

        def size(root):
            paths = [os.path.join(p, n) for p, _d, ns in os.walk(root) for n in ns]
            return len(paths), sum(os.path.getsize(p) for p in paths)

        files, written = size(out)
        return {"write": {"mb": written / 2**20, "files": files,
                          "amp": written / size(WRITE_STATS["in_dir"])[1]}}

    # -- oracle ------------------------------------------------------------

    def _verify(self, calls, frames) -> list[str]:
        """Collect each call's result of the last timed pass (outside the
        timed region) and compare its hash with the DuckDB oracle's over
        the same generated input. A call that failed earlier in the pass
        has no frame and is already counted."""
        import duckdb
        import gen

        con = duckdb.connect()
        con.execute(f"SET threads = {os.cpu_count() or 1}")
        for t in gen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.base}/{t}.parquet/*.parquet')"
            )
        bad = []
        for call in calls:
            if call.name not in frames:
                continue
            try:
                df = frames[call.name]
                got = vhash(df.columns, [tuple(r) for r in df.collect()])
                rel = con.sql(call.oracle(self.base))
                ok = got == vhash(list(rel.columns), rel.fetchall())
            except Exception as exc:  # counted as a failed call
                print(f"perfbench: verify {call.name}: {exc!r}"[:2000], file=sys.stderr)
                ok = False
            if not ok:
                self.failed += 1
                bad.append(call.name)
        con.close()
        return bad

    # -- the run -----------------------------------------------------------

    def run(self) -> dict:
        from layers import SparkStatus

        phase = {}
        t = time.perf_counter()
        # in a child, so that this process's set-up starts fresh: no
        # numpy or pyarrow imported yet
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), self.base, str(self.seed)],
            timeout=120, check=True,
        )
        phase["generate"], t = time.perf_counter() - t, time.perf_counter()
        setup = self.setup()
        self.tree.start()
        self.status = SparkStatus(self.spark)
        calls = self.w.calls()
        phase["setup"], t = time.perf_counter() - t, time.perf_counter()
        passes = [self._pass(calls, self.trace, "cold")]
        phase["cold"], t = time.perf_counter() - t, time.perf_counter()
        timed = []
        for i in range(self.w.timed_passes):
            last = (i == self.w.timed_passes - 1
                    or time.perf_counter() - self.t_start > PASS_CUTOFF_S)
            # the first timed pass is traced; the last, untraced, also
            # feeds the oracle check
            traced = self.trace and i == 0 and not last
            timed.append(self._pass(calls, traced, f"t{i}", {} if last else None))
            if last:
                break
        passes += timed
        bad = timed[-1]["oracle_mismatches"]
        phase["measure"], t = time.perf_counter() - t, time.perf_counter()
        kernels = {}
        if self.trace:
            import kernels as kmod

            with open(os.path.join(self.base, "mr", "pg-00.txt"), encoding="utf-8") as fh:
                kernels = kmod.run(self.seed, fh.read())
            phase["kernels"] = time.perf_counter() - t
        self.tree.stop()
        print("perfbench: phases " + " ".join(
            f"{k}={v:.1f}s" for k, v in phase.items()), file=sys.stderr)
        self._report(setup, passes, timed, calls, bad)
        if self.trace:
            return self._per_layer(setup, passes, timed, kernels)
        return self._end_to_end(setup, passes, timed)

    def _report(self, setup, passes, timed, calls, bad) -> None:
        """Human-readable series on stderr: per-pass wall, CPU and job
        count, per-call spread, and the oracle verdict."""
        err = sys.stderr
        print(f"perfbench: workload={self.w.name} seed={self.seed} "
              f"setup={setup['setup_s']:.3f}s", file=err)
        for p in passes:
            print(f"perfbench: pass {p['label']:>6} wall={p['wall_s']:.3f}s "
                  f"cpu={p['cpu']['total']:.2f}s jobs={p['jobs']}"
                  f"{' traced' if p['traced'] else ''}", file=err)
        for call in calls:
            ws = [p["calls"][call.name]["wall_s"] for p in timed]
            print(f"perfbench: call {call.name:<24} median={_median(ws):.3f}s "
                  f"min={min(ws):.3f}s max={max(ws):.3f}s", file=err)
        jobs = {p["jobs"] for p in passes}
        print(f"perfbench: jobs per pass {sorted(jobs)}"
              f"{'' if len(jobs) == 1 else ' (NOT EQUAL)'}", file=err)
        print(f"perfbench: oracle mismatches {bad or 'none'}; failed_frac="
              f"{self.failed / max(1, self.attempted):.4f} "
              f"({self.failed}/{self.attempted})", file=err)

    def _end_to_end(self, setup, passes, timed) -> dict:
        """The gated metrics, and on stderr the wall-clock ones too. A
        warm pass still runs while the JIT compiles in the background, so
        its CPU moves with how far compilation has got; the batch as a
        whole, cold pass included, moves far less. Wall time moves most
        with other tenants' load on a shared machine, so it is not gated."""
        gated = {
            "setup_s": (setup["setup_s"], "s"),
            "batch_cpu_s": (sum(p["cpu"]["total"] for p in passes), "CPU-s"),
            "peak_rss_mb": (self.tree.peak_mb["total"], "MB"),
        }
        shown = {
            "cold_wall_s": (passes[0]["wall_s"], "s"),
            "wall_s": (_median([p["wall_s"] for p in timed]), "s"),
            "cpu_s": (_median([p["cpu"]["total"] for p in timed]), "CPU-s"),
            "failed_frac": (self.failed / max(1, self.attempted), "ratio"),
        }
        print("perfbench: end-to-end " + " ".join(
            f"{k}={v:.4f}{u}" for k, (v, u) in {**gated, **shown}.items()
        ), file=sys.stderr)
        return gated

    def _per_layer(self, setup, passes, timed, kernels) -> dict:
        from workloads import WORKLOADS

        traced = [p for p in timed if p["traced"]]
        plain = [p for p in timed if not p["traced"]]
        slots = int(os.environ["SPARK_GRAFT_CPUS"])
        m: dict[str, tuple[float, str]] = {}

        def med(key, fn, unit):
            m[key] = (_median([fn(p) for p in traced]), unit)

        m["session.get_spark_s"] = (setup["get_spark_s"], "s")
        m["registry.import_s"] = (setup["import_s"], "s")
        m["inputs.register_s"] = (setup["register_s"], "s")
        for k, u in [("build_s", "s"), ("action_s", "s"), ("plan_s", "s"),
                     ("build_jobs", "count")]:
            med(f"driver.{k}", lambda p, k=k: sum(c[k] for c in p["calls"].values()), u)
        med("driver.gap_s", lambda p: p["gap_s"], "s")
        units = {"jobs": "count", "stages": "count", "tasks": "count",
                 "failed_tasks": "count", "exec_cpu_s": "CPU-s"}
        for k in passes[0]["spark"] if self.trace else []:
            unit = units.get(k, "MB" if k.endswith("_mb") else "s")
            med(f"spark.{k}", lambda p, k=k: p["spark"][k], unit)
        med("spark.slot_busy_frac",
            lambda p: p["spark"]["exec_run_s"] / (p["wall_s"] * slots), "ratio")
        jobs = [p["jobs"] for p in passes]
        m["spark.job_count_drift"] = (max(jobs) - min(jobs), "count")
        for kind in ("driver", "jvm", "pyworker"):
            med(f"proc.{kind}_cpu_s", lambda p, kind=kind: p["cpu"][kind], "CPU-s")
            m[f"proc.{kind}_rss_mb"] = (self.tree.peak_mb[kind], "MB")
        for k, v in kernels.items():
            m[k] = (v, "ms/MB" if k.endswith("per_mb") else "ms")
        for k, u in [("mb", "MB"), ("files", "count"), ("amp", "ratio")]:
            med(f"write.{k}", lambda p, k=k: (p["write"] or {}).get(k, 0), u)
        names = [c.name for w in WORKLOADS.values() for c in w.calls()]
        for name in dict.fromkeys(names):
            med(f"q.{name}.wall_s",
                lambda p, n=name: p["calls"].get(n, {}).get("wall_s", 0.0), "s")
            med(f"q.{name}.jobs",
                lambda p, n=name: p["calls"].get(n, {}).get("jobs", 0), "count")
        med("trace.overhead_s",
            lambda p: sum(c.get("trace_s", 0.0) for c in p["calls"].values()), "s")
        m["trace.wall_diff_frac"] = (
            _median([p["wall_s"] for p in traced])
            / _median([p["wall_s"] for p in plain]) - 1.0
            if traced and plain else 0.0,
            "ratio",
        )
        m["pass.cold_wall_s"] = (passes[0]["wall_s"], "s")
        m["pass.wall_s"] = (_median([p["wall_s"] for p in plain]), "s")
        m["pass.cpu_s"] = (_median([p["cpu"]["total"] for p in plain]), "CPU-s")
        m["passes.timed"] = (len(timed), "count")
        m["failed_frac"] = (self.failed / max(1, self.attempted), "ratio")
        self.spans.self_times()
        out = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{self.w.name}-seed{self.seed}.json"), "w") as fh:
            json.dump({"spans": self.spans.items, "passes": passes}, fh)
        return m

    def close(self) -> None:
        """Stop the session and the JVM, and wait for every process this
        run started to end."""
        pids = self.tree.descendants()
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                # the JVM exits when its stdin closes
                gw.proc.stdin.close()
                gw.proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None
        deadline = time.time() + 30
        while pids and time.time() < deadline:
            pids = [p for p in pids if _alive(p)]
            time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a "
              "checkout of the engine", file=sys.stderr)
        return 2

    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = os.cpu_count() or 1
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # a driver heap that fits the machine: a third of RAM, at most 6g
        "SPARK_DRIVER_MEMORY": f"{max(1, min(6, int(ram_gb / 3)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the launcher JVM that spark-submit runs first
        "SPARK_LAUNCHER_OPTS":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    tempfile.tempdir = os.path.join(work, "tmp")
    bench = Bench(WORKLOADS[args.workload], args.seed, bool(args.trace), work)
    try:
        metrics = bench.run()
    finally:
        t = time.perf_counter()
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: teardown={time.perf_counter() - t:.1f}s "
              f"total={time.perf_counter() - bench.t_start:.1f}s", file=sys.stderr)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
