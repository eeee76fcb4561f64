#!/usr/bin/env python3
"""Closed-loop benchmark of the conversation-analytics engine.

One process, one client thread, Spark on ``local[<cores> // 2]``. A pass
runs every operation type of the workload once, in an order shuffled
from the seed; the run does warm-up passes and then timed passes.
After every operation ``operators.cache.release_all()`` and the
output check run untimed.

    python3 perfbench/run.py --workload interactive_analytics \
        --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Per-op
records, job counts, the environment and (traced) the spans go to
``.perfbench/out/<workload>-s<seed>-t<trace>.json``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "conversation_analysis_tools_spark"
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import trace as tracing  # noqa: E402
from workloads import WORKLOADS, Ctx, workload  # noqa: E402

MB = 1024 * 1024
#: Every op type of every workload; each gets op.<name>.* metrics.
ALL_OPS = [op.name for w in WORKLOADS for op in workload(w).ops]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(run_dir: str) -> dict:
    """Give the run its own cold state; returns what was set."""
    # Spark gets half the cores: the driver thread, the JVM's compiler
    # and GC threads and the Python workers need the rest, and a run
    # that asks for more threads than the box has times the scheduler
    cpus = str(max(1, len(os.sched_getaffinity(0)) // 2))
    env = {
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_FITCACHE_DIR": os.path.join(run_dir, "fitcache"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # python workers import the package (the ChatGPT tree flatten)
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    }
    os.environ.update(env)
    time.tzset()
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    return env


class Bench:
    def __init__(self, args, run_dir: str):
        self.args, self.run_dir = args, run_dir
        self.wl = workload(args.workload)
        self.traced_run = bool(args.trace)
        self.records: list[dict] = []
        self.spans: list[dict] = []
        self.fit_log: list[dict] = []
        self.spark = None
        self.counter = None

    # -- set-up ---------------------------------------------------------------

    def inputs(self) -> dict:
        """Generate the data and the oracle answers (before the set-up
        clock)."""
        wl, seed = self.wl, self.args.seed
        self.data_dir = os.path.join(self.run_dir, "data")
        rows = gen.write_tables(self.data_dir, seed, wl.sf, wl.docs_sf)
        sys.path.insert(0, ROOT)
        import __spark_entry__ as entry
        from conversation_analysis_tools_spark.catalog import TABLES

        sqls = entry.oracle_sql()
        self.queries = entry.queries()
        names = wl.registry_names()
        t0 = time.perf_counter()
        self.oracle = check.oracle_digests(
            self.data_dir, {n: sqls[n] for n in names if n in sqls}, TABLES
        )
        return {"rows": rows, "oracle_s": round(time.perf_counter() - t0, 3)}

    def start_session(self):
        from conversation_analysis_tools_spark import session

        conf = {"spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse")}
        if self.traced_run:
            self.event_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        cpus = os.environ["SPARK_GRAFT_CPUS"]
        self.spark = session.get_spark(master=f"local[{cpus}]", extra_conf=conf)
        # catalog.staging_dir roots staged layouts on the session's
        # scratch root, or on /tmp, where they outlive the process. The
        # session is built as the engine builds it; only then does the
        # staging root move into the run directory, which exit deletes.
        staged = os.path.join(self.run_dir, "staged")
        session._local_scratch = lambda: staged
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid
        if self.traced_run:
            self.counter = tracing.Py4jCounter(self.sc)
            self._time_fits()

    def _time_fits(self) -> None:
        """Time every fitcache fit by wrapping the ``cached_fit`` the
        query modules imported."""
        from conversation_analysis_tools_spark import fitcache

        orig = fitcache.cached_fit

        def timed(op, params, data_dir, fit):
            def run_fit():
                t0 = time.perf_counter()
                try:
                    return fit()
                finally:
                    self.fit_log.append({
                        "op": op, "s": time.perf_counter() - t0, "during": self.phase,
                    })

            return orig(op, params, data_dir, run_fit)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE) and getattr(
                mod, "cached_fit", None
            ) is orig:
                mod.cached_fit = timed

    # -- one operation ----------------------------------------------------------

    def run_op(self, op, ctx: Ctx, pass_no: int, kind: str, traced: bool) -> dict:
        sc = self.sc
        if op.prepare:
            op.prepare(ctx)
        gid = f"pb{pass_no}:{op.name}"
        counter = self.counter

        def calls() -> int:
            return counter.calls if counter else 0

        if counter:
            counter.on = traced
        built = out = error = None
        sc.setJobGroup(gid + ":build", op.name)
        w0, t0, c0 = time.time(), time.perf_counter(), calls()
        t1 = c1 = None
        try:
            built = op.build(ctx)
            t1, c1 = time.perf_counter(), calls()
            sc.setJobGroup(gid + ":exec", op.name)
            out = op.execute(ctx, built)
        except Exception as e:  # noqa: BLE001 -- a failed op is counted, not fatal
            error = f"{type(e).__name__}: {str(e)[:500]}"
        t2, c2 = time.perf_counter(), calls()
        if t1 is None:  # build raised: the whole op is build
            t1, c1 = t2, c2
        if counter:
            counter.on = False
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
        from conversation_analysis_tools_spark.operators.cache import release_all

        release_all()
        problem = error
        if problem is None:
            try:
                problem = op.check(ctx, built, out)
            except Exception as e:  # noqa: BLE001
                problem = f"check raised {type(e).__name__}: {e}"
        rec = {
            "pass": pass_no, "kind": kind, "traced": traced, "op": op.name, "id": gid,
            "build_s": t1 - t0, "exec_s": t2 - t1, "s": t2 - t0,
            "w0": w0, "w1": w0 + (t1 - t0), "w2": w0 + (t2 - t0),
            "py4j_build": c1 - c0, "py4j_exec": c2 - c1,
            "ok": problem is None, "problem": problem,
        }
        rec.update(self._job_counts(gid))
        if op.name.startswith("arrive_"):
            rec["arrival_bytes"] = ctx.arrival_bytes
            rec["arrival_rows"] = ctx.arrival_rows
            rec["store_bytes"] = _dir_bytes(ctx.store_convs) + _dir_bytes(ctx.store_msgs)
        self.records.append(rec)
        return rec

    def _job_counts(self, gid: str) -> dict:
        tr = self.sc.statusTracker()
        out = {}
        for phase in ("build", "exec"):
            ids = tr.getJobIdsForGroup(f"{gid}:{phase}")
            infos = [tr.getJobInfo(j) for j in ids]
            out[f"{phase}_jobs"] = len(ids)
            out[f"{phase}_stages"] = sum(len(i.stageIds) for i in infos if i)
        return out

    # -- passes -------------------------------------------------------------------

    def run_pass(self, ctx, rng, pass_no: int, kind: str, traced: bool) -> None:
        first, rest = list(self.wl.first), list(self.wl.rest)
        rng.shuffle(first)
        rng.shuffle(rest)
        t0 = time.time()
        for op in first + rest:
            self.run_op(op, ctx, pass_no, kind, traced)
        self.spans.append({
            "id": f"pass{pass_no}", "parent": "run", "kind": "pass", "name": kind,
            "traced": traced, "t0": t0, "t1": time.time(),
        })

    def run(self) -> tuple[dict, dict]:
        args, wl = self.args, self.wl
        detail = {"workload": wl.name, "seed": args.seed, "trace": args.trace}
        detail["inputs"] = self.inputs()
        run_t0 = time.time()
        self.phase = "setup"
        t_setup = time.perf_counter()
        self.start_session()
        session_s = time.perf_counter() - t_setup
        ctx = Ctx(self.spark, self.data_dir, self.queries, self.oracle)
        if wl.first:
            ctx.stream = gen.ExportStream(args.seed)
            ctx.arrivals_dir = os.path.join(self.run_dir, "arrivals")
            os.makedirs(ctx.arrivals_dir)
            ctx.store_convs = os.path.join(self.run_dir, "store", "conversations")
            ctx.store_msgs = os.path.join(self.run_dir, "store", "messages")
        rng = random.Random(args.seed)
        pass_no = 0
        for _ in range(wl.warmup_passes):
            self.run_pass(ctx, rng, pass_no, "warmup", False)
            pass_no += 1
        setup_s = time.perf_counter() - t_setup
        fits_setup = _count_fits()
        self.phase = "timed"

        # timed passes: alternate untraced / traced in a traced run
        per = 2 if self.traced_run else 1
        spin = [stats.spin_seconds()]
        cpu0, t_timed = stats.tree_cpu_seconds(os.getpid()), time.perf_counter()
        n = 0
        while n < wl.timed_passes(args.seconds):
            for k in range(per):
                self.run_pass(ctx, rng, pass_no, "timed", k == 1)
                pass_no += 1
            n += per
        timed_s = time.perf_counter() - t_timed
        cpu_s = stats.tree_cpu_seconds(os.getpid()) - cpu0
        timed_fits = _count_fits() - fits_setup
        spin.append(stats.spin_seconds())

        layer = {}
        if self.traced_run:
            layer["mem.jvm_rss_peak_mb"] = stats.rss_peak_mb(self.jvm_pid)
            layer["mem.heap_live_mb"] = self._heap_live_mb()
        self.stop_session()

        timed = [r for r in self.records if r["kind"] == "timed"]
        untraced = [r for r in timed if not r["traced"]]
        attempted, failed = outcome(self.records)
        lat = _latencies(untraced)
        detail.update({
            "env": self.env_record(),
            "session_s": session_s, "setup_s": setup_s, "timed_s": timed_s,
            "timed_passes": n, "cpu_s": cpu_s, "fits_setup": fits_setup,
            "host_spin_s": spin,
            "timed_fits": timed_fits,
            "failures": [
                {k: r[k] for k in ("pass", "op", "problem")} for r in self.records if not r["ok"]
            ],
            "records": self.records,
        })
        if not self.traced_run:
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (stats.pass_seconds(lat), "s"),
                "cpu_s_per_pass": (cpu_s / n, "s"),
                "ok_rate": ((attempted - failed) / attempted, "fraction"),
            }
        else:
            layer.update({
                "session.start_s": session_s,
                "fitcache.fits": fits_setup,
                "fitcache.fit_s": sum(f["s"] for f in self.fit_log if f["during"] == "setup"),
                "fitcache.timed_fits": timed_fits,
                "error_rate": failed / attempted,
            })
            layer.update(self.layer_metrics(timed, lat, run_t0))
            metrics = {k: (v, _unit(k)) for k, v in layer.items()}
            detail["spans"] = self.spans
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, detail

    # -- traced metrics -------------------------------------------------------------

    def layer_metrics(self, timed: list[dict], lat: dict, run_t0: float) -> dict:
        jobs, stages, batches = tracing.read_event_log(self.event_dir)
        phases = [
            {"id": f"{r['id']}:{ph}", "t0": r[a], "t1": r[b]}
            for r in self.records
            for ph, a, b in (("build", "w0", "w1"), ("exec", "w1", "w2"))
        ]
        tracing.attribute(jobs, phases)
        by_phase: dict = {}
        for jid, j in jobs.items():
            by_phase.setdefault(j["phase"], []).append(jid)
        self._spans(jobs, stages, run_t0)

        traced = [r for r in timed if r["traced"]]
        per_pass: dict[int, dict] = {}
        for r in traced:
            m = per_pass.setdefault(r["pass"], _zero())
            m["build.s"] += r["build_s"]
            m["exec.s"] += r["exec_s"]
            m["build.py4j_calls"] += r["py4j_build"]
            bj = by_phase.get(f"{r['id']}:build", [])
            ej = by_phase.get(f"{r['id']}:exec", [])
            r["build_jobs_all"] = len(bj)
            m["build.jobs"] += len(bj)
            m["exec.jobs"] += len(ej)
            m["catalog.inference_jobs"] += sum(
                all(n.startswith(("parquet at", "json at")) for n in jobs[j]["names"])
                for j in bj
            )
            for j in ej:
                for sid in jobs[j]["stage_ids"]:
                    st = stages.get(sid)
                    if not st or "name" not in st:
                        continue  # skipped stage
                    m["exec.stages"] += 1
                    m["exec.tasks"] += st["tasks"]
                    m["exec.task_cpu_s"] += st["cpu_ns"] / 1e9
                    m["exec.gc_s"] += st["gc_ms"] / 1e3
                    m["exec.shuffle_write_mb"] += st["shuffle_w"] / MB
                    m["exec.shuffle_read_mb"] += st["shuffle_r"] / MB
                    m["exec.spill_mb"] += st["spill"] / MB
                    m["exec.output_mb"] += st["out"] / MB
            if r["op"].startswith("arrive_"):
                m["ingest.s"] += r["build_s"]
                m["upsert.s"] += r["exec_s"]
                m["_rows"] += r["arrival_rows"]
                m["_in_bytes"] += r["arrival_bytes"]
                m["_out_bytes"] += r["store_bytes"]
        windows = [(r["w0"], r["w2"], r) for r in traced]
        for b in batches:
            b["op"] = next((r["id"] for a, z, r in windows if a <= b["t"] <= z), None)
        batches = [b for b in batches if b["op"]]
        for p, m in per_pass.items():
            mine = [b for b in batches if b["op"].startswith(f"pb{p}:")]
            m["stream.batches"] = len(mine)
            last: dict = {}
            for b in mine:
                last[b["run"]] = b
            m["stream.state_rows"] = sum(b["state_rows"] for b in last.values())
            m["stream.state_mb"] = sum(b["state_bytes"] for b in last.values()) / MB
            io = m["ingest.s"] + m["upsert.s"]
            m["ingest.rows_per_s"] = m["_rows"] / io if io else 0.0
            m["upsert.write_amp"] = m["_out_bytes"] / m["_in_bytes"] if m["_in_bytes"] else 0.0
        keys = [k for k in next(iter(per_pass.values())) if not k.startswith("_")]
        out = {k: statistics.median(m[k] for m in per_pass.values()) for k in keys}
        ms = [b["ms"] for b in batches]
        out["stream.batch_p50_ms"] = statistics.median(ms) if ms else 0.0
        untraced_pass = stats.pass_seconds(lat)
        out["trace.overhead_frac"] = stats.pass_seconds(_latencies(traced)) / untraced_pass - 1
        # one untraced pass gives each type one sample; pool both kinds
        out["op.p90_excess_s"] = stats.p90_excess(_latencies(timed))
        for name in ALL_OPS:
            out[f"op.{name}.p50_s"] = statistics.median(lat[name]) if name in lat else 0.0
            bj = [r["build_jobs_all"] for r in traced if r["op"] == name]
            out[f"op.{name}.build_jobs"] = statistics.median(bj) if bj else 0
        return out

    def _spans(self, jobs: dict, stages: dict, run_t0: float) -> None:
        """run -> pass -> op -> {build, exec} -> job -> stage."""
        spans = self.spans
        spans.append({"id": "run", "parent": None, "kind": "run", "t0": run_t0,
                      "t1": time.time()})
        for r in self.records:
            p = f"pass{r['pass']}"
            spans.append({"id": r["id"], "parent": p, "kind": "op", "name": r["op"],
                          "t0": r["w0"], "t1": r["w2"]})
            for ph, a, b in (("build", "w0", "w1"), ("exec", "w1", "w2")):
                spans.append({"id": f"{r['id']}:{ph}", "parent": r["id"], "kind": ph,
                              "t0": r[a], "t1": r[b]})
        for jid, j in jobs.items():
            if j["phase"] is None:
                continue
            spans.append({"id": f"job{jid}", "parent": j["phase"], "kind": "job",
                          "t0": j["start_ms"] / 1e3, "t1": j.get("end_ms", j["start_ms"]) / 1e3})
            for sid in j["stage_ids"]:
                st = stages.get(sid)
                if st and st.get("start_ms"):
                    spans.append({"id": f"stage{sid}", "parent": f"job{jid}", "kind": "stage",
                                  "name": st["name"], "tasks": st["tasks"],
                                  "t0": st["start_ms"] / 1e3, "t1": st["end_ms"] / 1e3})
        tracing.self_times(spans)

    def _heap_live_mb(self) -> float:
        jvm = self.spark._jvm
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / MB

    # -- teardown -------------------------------------------------------------------

    def stop_session(self) -> None:
        """Stop Spark, then the JVM, and wait for it to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        if self.counter:
            self.counter.uninstall()
        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        except Exception:  # noqa: BLE001 -- an interrupted call broke the link
            pass
        self.spark = None
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 -- already down
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:  # noqa: BLE001
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None

    def env_record(self) -> dict:
        import platform

        import pyspark

        keep = ("SPARK", "PYSPARK", "JAVA", "PYTHON", "TZ", "TMPDIR", "OMP", "LANG")
        return {
            "vars": {k: v for k, v in sorted(os.environ.items()) if k.startswith(keep)},
            "python": sys.version.split()[0],
            "pyspark": pyspark.__version__,
            "platform": platform.platform(),
            "cpus": len(os.sched_getaffinity(0)),
            "mem_total_mb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // MB,
        }


def outcome(records: list[dict]) -> tuple[int, int]:
    """(attempted, failed) over the timed operations: an operation
    fails if it raised or its output did not match its check."""
    timed = [r for r in records if r["kind"] == "timed"]
    return len(timed), sum(not r["ok"] for r in timed)


def _latencies(records: list[dict]) -> dict[str, list[float]]:
    lat: dict[str, list[float]] = {}
    for r in records:
        lat.setdefault(r["op"], []).append(r["s"])
    return lat


def _zero() -> dict:
    keys = (
        "build.s build.jobs build.py4j_calls catalog.inference_jobs exec.s exec.jobs "
        "exec.stages exec.tasks exec.task_cpu_s exec.gc_s exec.shuffle_write_mb "
        "exec.shuffle_read_mb exec.spill_mb exec.output_mb ingest.s upsert.s _rows "
        "_in_bytes _out_bytes"
    ).split()
    return dict.fromkeys(keys, 0)


def _unit(name: str) -> str:
    for suffix, unit in (("rows_per_s", "1/s"), ("_mb", "MB"), ("_ms", "ms"), ("_s", "s"),
                         (".s", "s")):
        if name.endswith(suffix):
            return unit
    if name.endswith(("_frac", "_rate", "_amp")):
        return "ratio"
    return "count"


def _count_fits() -> int:
    d = os.environ["SPARK_GRAFT_FITCACHE_DIR"]
    return sum(f.endswith(".json") for f in os.listdir(d)) if os.path.isdir(d) else 0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isdir(os.path.join(ROOT, PACKAGE))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(
            f"perfbench: {PACKAGE}/ and __spark_entry__.py must sit beside perfbench/",
            file=sys.stderr,
        )
        return 2
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(ROOT, ".perfbench", "runs", f"{tag}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = prepare_env(run_dir)
    bench = Bench(args, run_dir)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, detail = bench.run()
    finally:
        try:
            bench.stop_session()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    detail["env"]["set"] = env
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(detail, f, default=str)
    summary = {k: detail[k] for k in ("session_s", "setup_s", "timed_s", "timed_passes",
                                      "cpu_s", "timed_fits", "host_spin_s", "failures")}
    summary["inputs"] = detail["inputs"]
    print(json.dumps({"detail": os.path.relpath(f.name, ROOT), **summary}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
