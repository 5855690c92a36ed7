"""Layered benchmark for hadoop_ir_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed, starts one Spark session
on ``local[nproc]`` and runs the workload's fixed op list one op after
another (one closed-loop client): an untimed warm-up whose outputs are
checked, then timed passes for ``--seconds``. Every op materializes its
full output (``write.format("noop")``). The last stdout line is one JSON
object; the full record (host fingerprint, input sizes, per-op
latencies, failures) goes to ``perfbench/.work/records``.

``--trace 1`` is a separate run that yields the per-layer metrics from
outside the library: spans around the benchmark's own calls into each
layer, job groups set per op, and Spark's event log folded by group.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import eventlog, gen, host  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

WORK = os.path.join(HERE, ".work")
with open(os.path.join(HERE, "metrics.json"), encoding="utf-8") as _f:
    METRICS = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in METRICS["end_to_end"] + METRICS["per_layer"]}


def configure_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and the library write inside
    ``work``; turn the event log on for traced runs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    conf = {"spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file:" + os.path.join(work, "eventlog"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    args = [f"--conf {k}={v}" for k, v in conf.items()]
    args.append(f"--driver-java-options -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


class PlanListener:
    """Spark's ``QueryExecutionListener``, served over the py4j callback
    server: keeps the planning phases (analysis, optimization, planning)
    of every finished query execution. The timed action's own command is
    planned inside its ``exec`` span, so ``catalyst.plan_s`` is read from
    here rather than forced ahead of it, which would plan the op twice.
    Spark calls it from the listener bus, after the query ended."""

    def __init__(self, spark):
        self.jvm = spark.sparkContext._jvm
        self.plans: list[dict] = []
        self.errors: list[str] = []

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 (Java interface)
        try:
            phases = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                qe.tracker().phases())
            spans = {k: (p.startTimeMs(), p.endTimeMs()) for k, p in phases.items()}
            if "planning" in spans:     # a query that reached physical planning
                self.plans.append({"func": func,
                                   "start_ms": min(a for a, _ in spans.values()),
                                   "end_ms": max(b for _, b in spans.values()),
                                   "planning_ms": spans["planning"][0],
                                   "plan_s": sum(b - a for a, b in spans.values()) / 1e3})
        except Exception as ex:  # keep the listener bus going; report it
            self.errors.append(f"{type(ex).__name__}: {ex}"[:300])

    def onFailure(self, func, qe, exception):  # noqa: N802
        self.onSuccess(func, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def register(self, spark) -> "PlanListener":
        from pyspark.java_gateway import ensure_callback_server_started
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)
        return self

    def drain(self, spark) -> None:
        """Wait until the listener bus has delivered every event."""
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(120_000)


class Tracer:
    """Spans kept in memory: session → op → {queries.build | store.*.build,
    exec → catalyst.plan} → job → stage. Each phase span owns one job
    group; ``catalyst.plan`` spans come from ``PlanListener``."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.session: int | None = None   # id of the root span

    @contextmanager
    def span(self, name: str, parent: int | None, group: str | None = None, **attrs):
        s = {"id": len(self.spans), "parent": parent, "name": name,
             "group": group, "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        if group:
            self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s["end"] = time.time()

    @contextmanager
    def grouped(self):
        """Clears the job group on exit, so untraced work carries none."""
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def group_at(self, ms: float) -> str | None:
        """The innermost grouped span open at ``ms`` (jobs that libraries
        submit from their own threads carry no group)."""
        t = ms / 1e3
        best = None
        for s in self.spans:
            if s["group"] and s["start"] <= t <= (s["end"] or t):
                best = s
        return best["group"] if best else None


class Runner:
    def __init__(self, wl, spark, tracer: Tracer | None):
        self.wl, self.spark, self.tracer = wl, spark, tracer
        self.passes: list[dict] = []
        self.errors: dict[str, str] = {}

    def _materialize(self, out, collect: bool):
        if out is None:
            return None
        if collect:
            return out.toPandas()
        out.write.format("noop").mode("overwrite").save()
        return None

    def run_op(self, op, tag: str, collect: bool, traced: bool, parent: int | None):
        t0 = time.perf_counter()
        result, err = None, None
        try:
            if not traced:
                result = self._materialize(op.fn(), collect)
            else:
                tr = self.tracer
                with tr.span(f"op:{op.name}", parent, op=op.name, kind=op.kind,
                             layer=op.layer, tag=tag) as sop, tr.grouped():
                    self.wl.observe(op, True)
                    if op.kind == "write":
                        with tr.span(f"{op.layer}.{op.name}", sop["id"], f"{tag}.exec", phase="exec"):
                            op.fn()
                    else:
                        build = "queries.build" if op.layer == "queries" else f"store.{op.name}.build"
                        with tr.span(build, sop["id"], f"{tag}.build", phase="build"):
                            df = op.fn()
                        with tr.span("exec", sop["id"], f"{tag}.exec", phase="exec"):
                            result = self._materialize(df, collect)
                    self.wl.observe(op, False)
        except Exception as ex:  # an op failure is counted, the loop goes on
            err = f"{type(ex).__name__}: {ex}"[:500]
            self.errors.setdefault(op.name, err)
        return time.perf_counter() - t0, result, err

    def run_pass(self, collect: bool = False, traced: bool = False, timed: bool = True):
        """One pass over the op list. With ``collect`` (warm-up only) the
        read ops' outputs come back as pandas frames."""
        idx = len(self.passes)
        self.wl.begin_pass(idx)
        ops, outputs = self.wl.ops(), {}
        rec = {"idx": idx, "timed": timed and not collect, "traced": traced, "ops": [],
               "wall": 0.0}
        parent = self.tracer.session if (traced and self.tracer) else None
        rec["start"] = time.time()      # the clock of the spans, for span_cover
        t0 = time.perf_counter()
        for i, op in enumerate(ops):
            dt, out, err = self.run_op(op, f"p{idx}.o{i}", collect, traced, parent)
            rec["ops"].append({"name": op.name, "kind": op.kind, "s": dt, "error": err})
            if out is not None:
                outputs[op.name] = out
        rec["wall"] = time.perf_counter() - t0
        rec["end"] = time.time()
        if traced:
            rec["measures"] = {k: v for k, v in self.wl.measures.items()
                               if k in ("fold_bytes", "fold_text_bytes", "files", "snapshots")}
            for k in ("fold_bytes", "fold_text_bytes"):
                self.wl.measures.pop(k, None)
        self.passes.append(rec)
        return outputs


def median(xs):
    return statistics.median(xs) if xs else None


def e2e_metrics(runner: Runner, setup_s: float, peak_mb: float) -> dict:
    timed = [p for p in runner.passes if p["timed"] and not p["traced"]]
    lat = {"read": [], "write": []}
    for p in timed:
        for o in p["ops"]:
            if o["error"] is None:
                lat[o["kind"]].append(o["s"])
    m = {"setup_s": setup_s, "pass_s": median([p["wall"] for p in timed]),
         "peak_rss_mb": peak_mb}
    if "build_s" in runner.wl.measures:
        m["build_s"] = runner.wl.measures["build_s"]
    tails = {}
    for kind in ("read", "write"):
        if lat[kind]:
            m[f"{kind}_p50_s"] = median(lat[kind])
            t = host.tail(lat[kind])
            if t:
                m[f"{kind}_tail_s"] = t["value"]
            tails[f"{kind}_tail_s"] = t or {"samples": len(lat[kind]),
                                            "note": "fewer than 11 samples: no tail"}
    return m, tails


EXEC_SUMS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "task_failures",
             "final_bhj", "final_smj")


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def pass_layers(p: dict, spans: list[dict], groups: dict, plan_s: dict,
                result_rows: dict, cores: int) -> dict:
    """One traced pass's per-layer numbers: sums over its ops."""
    tag = f"p{p['idx']}."
    ops = [s for s in spans if s.get("tag", "").startswith(tag)]
    phases = [s for s in spans if (s["group"] or "").startswith(tag)]
    execs = [s for s in phases if s["phase"] == "exec"]
    exec_g = [groups[s["group"]] for s in execs if s["group"] in groups]
    read_g = [groups[s["group"]] for s in execs
              if s["group"] in groups and spans[s["parent"]]["kind"] == "read"]
    q_build = [s for s in phases if s["name"] == "queries.build"]
    rows = sum(result_rows.get(s["op"], 0) for s in ops if s["kind"] == "read")
    wall = _dur(execs)
    m = {f"exec.{k}": sum(g[k] for g in exec_g) for k in EXEC_SUMS}
    meas = p.get("measures", {})
    m.update({
        "queries.build_s": _dur(q_build),
        "queries.eager_jobs": sum(groups[s["group"]]["jobs"] for s in q_build
                                  if s["group"] in groups),
        "catalyst.plan_s": sum(plan_s.get(s["group"], 0.0) for s in execs
                               if spans[s["parent"]]["kind"] == "read"),
        "exec.wall_s": wall,
        "exec.core_busy_frac": m["exec.executor_run_s"] / (wall * cores) if wall else 0.0,
        "exec.task_skew": max([g["task_skew"] for g in exec_g], default=1.0),
        "exec.scan_rows_per_result": sum(g["scan_rows"] for g in read_g) / max(1, rows),
        "store.files": meas.get("files", 0),
        "store.snapshots": meas.get("snapshots", 0),
        "store.write_amp": (meas["fold_bytes"] / meas["fold_text_bytes"]
                            if meas.get("fold_text_bytes") else 0.0),
    })
    for name, prefix in (("serve_s", "serve."), ("ann_serve_s", "ann."),
                         ("fold_s", "fold."), ("compact_s", "compact")):
        m[f"store.{name}"] = _dur(s for s in ops if s["op"].startswith(prefix))
    return m


MIN_COVER = 0.95


def plan_spans(tracer: Tracer, plans: list[dict]) -> dict:
    """Hang each query's planning, as ``PlanListener`` saw it, under the
    exec span open when its physical planning began; returns seconds of
    planning per job group."""
    owner = {s["group"]: s for s in tracer.spans if s["group"] and s["phase"] == "exec"}
    per_group: dict = {}
    for pl in plans:
        g = tracer.group_at(pl["planning_ms"])
        if g not in owner:
            continue
        per_group[g] = per_group.get(g, 0.0) + pl["plan_s"]
        tracer.spans.append({"id": len(tracer.spans), "parent": owner[g]["id"],
                             "name": "catalyst.plan", "group": None,
                             "start": pl["start_ms"] / 1e3, "end": pl["end_ms"] / 1e3,
                             "plan_s": pl["plan_s"], "func": pl["func"]})
    return per_group


def layer_metrics(runner: Runner, tracer: Tracer, parsed: dict, plans: list[dict],
                  result_rows: dict, probes: dict, cores: int) -> tuple[dict, dict]:
    """Median over the traced passes of each pass's per-layer sums, plus
    the single-layer probes. ``cover`` is, per traced pass, the share of
    its wall time that its op spans account for (one clock for both)."""
    groups = eventlog.fold_groups(parsed, assign=lambda j: tracer.group_at(j["submit_ms"]))
    plan_s = plan_spans(tracer, plans)
    traced = [p for p in runner.passes if p["traced"]]
    by_pass = [pass_layers(p, tracer.spans, groups, plan_s, result_rows, cores)
               for p in traced]
    out = {k: median([m[k] for m in by_pass]) for k in by_pass[0]}
    out.update(probes)
    shares = []
    for p in traced:
        ops = [s for s in tracer.spans
               if s["name"].startswith("op:") and s["tag"].startswith(f"p{p['idx']}.")]
        shares.append(_dur(ops) / (p["end"] - p["start"]))
    cover = {"op_span_share": shares, "min_share": MIN_COVER,
             "covered": all(MIN_COVER <= x <= 1.0 + 1e-6 for x in shares)}
    return out, cover


def layer_probes(wl, spark, work: str) -> dict:
    """Single-layer timings on the workload corpus, outside the passes."""
    from hadoop_ir_spark import catalog
    from hadoop_ir_spark.io import index as index_io
    from hadoop_ir_spark.operators import stats
    terms = sorted({t for _, q in catalog.TOPICS for t in q.split()})
    scans = []
    for _ in range(3):
        t0 = time.perf_counter()
        stats.scan_stats(wl.corpus(), terms).write.format("noop").mode("overwrite").save()
        scans.append(time.perf_counter() - t0)
    out_dir = os.path.join(work, "index_probe")
    t0 = time.perf_counter()
    index_io.build_index(wl.corpus(), out_dir)
    build = time.perf_counter() - t0
    n_docs = wl.corpus().count()
    return {"stats.scan_s": median(scans), "index.build_s": build,
            "index.bytes_per_doc": gen.dir_bytes(out_dir) / max(1, n_docs)}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the session launched."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw else None
    if gw:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rss = host.PeakRss().start()
    spark = None
    try:
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](os.path.join(work, "data"), work, args.seed)
        sizes = wl.prepare(gen.Source(gen.source_dir()))
        gen_s = time.perf_counter() - t0
        configure_env(work, traced)

        t_setup = time.perf_counter()
        from hadoop_ir_spark.session import get_spark
        width = host.cores()
        spark = get_spark("perfbench", cpus=width)
        session_s = time.perf_counter() - t_setup
        wl.steps["session"] = session_s
        with wl.step("setup"):
            import hadoop_ir_spark.catalog  # noqa: F401  (the catalog import is set-up work)
            wl.setup(spark)
        tracer = Tracer(spark.sparkContext) if traced else None
        listener = PlanListener(spark).register(spark) if traced else None
        runner = Runner(wl, spark, tracer)
        outputs = wl.warm_up(runner)
        setup_s = time.perf_counter() - t_setup
        result_rows = wl.result_rows(outputs)

        steal0 = host.cpu_steal_s()
        if tracer:
            with tracer.span("session", None, workload=args.workload) as sess:
                tracer.session = sess["id"]
                # plain, traced, plain, ...: the plain passes on both sides
                # of a traced one cancel the warm-up trend in the overhead
                t_run, n = time.perf_counter(), 0
                while n < 3 or time.perf_counter() - t_run < args.seconds:
                    runner.run_pass(traced=n % 2 == 1)
                    n += 1
            failures = wl.check(outputs)
            listener.drain(spark)
            probes = layer_probes(wl, spark, work)
            probes["session.start_s"] = session_s
            probes["store.space_amp"] = wl.measures.get("space_amp", 0.0)
        else:
            t_run, n = time.perf_counter(), 0
            while n < wl.min_passes or time.perf_counter() - t_run < args.seconds:
                runner.run_pass()
                n += 1
            with wl.step("check"):
                failures = wl.check(outputs)
        steal_s = host.cpu_steal_s() - steal0
        del outputs
        stop_spark(spark)
        spark = None
        peak_mb = rss.stop()
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()

    failures.update({k: v for k, v in runner.errors.items() if k not in failures})
    executions = [o for p in runner.passes for o in p["ops"]]
    attempted = len(executions)
    failed = sum(1 for o in executions if o["error"] or o["name"] in failures)
    metrics, tails = e2e_metrics(runner, setup_s, peak_mb)
    metrics["ops_failed_frac"] = failed / attempted
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "time": time.time(), "fingerprint": host.fingerprint(width),
              "inputs": sizes, "gen_s": gen_s, "steps": wl.steps,
              "metrics": metrics, "tails": tails,
              "cpu_steal_s": steal_s,
              "attempted": attempted, "failed": failed, "failures": failures,
              "passes": runner.passes}
    gated = [m["name"] for m in METRICS["end_to_end"] if m.get("gated")]
    if traced:
        parsed = eventlog.parse(eventlog.read_events(os.path.join(work, "eventlog")))
        layers, cover = layer_metrics(runner, tracer, parsed, listener.plans, result_rows,
                                      probes, width)
        plain = median([p["wall"] for p in runner.passes if p["timed"] and not p["traced"]])
        tr_pass = median([p["wall"] for p in runner.passes if p["traced"]])
        layers["trace.overhead_frac"] = tr_pass / plain - 1.0
        record.update({"layers": layers, "span_cover": cover,
                       "plan_listener_errors": listener.errors})
        if not cover["covered"]:
            failures["trace"] = f"op spans do not cover the traced passes: {cover}"
        if listener.errors:
            failures["trace.plans"] = "; ".join(listener.errors[:3])
        report = {k: layers.get(k, 0.0) for k in (m["name"] for m in METRICS["per_layer"])}
        _attach_jobs(tracer, parsed)
    else:
        report = {k: metrics[k] for k in gated}

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    stem = os.path.join(WORK, "records", f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}")
    with open(stem + ".json", "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1, default=str)
    if traced:
        with open(stem + "-spans.json", "w", encoding="utf-8") as f:
            json.dump(tracer.spans, f, default=str)
    shutil.rmtree(work, ignore_errors=True)

    for k, v in sorted(metrics.items()):
        extra = tails.get(k)
        extra = f"  (p{extra['percentile']} of {extra['samples']} samples)" if extra and "percentile" in extra else ""
        print(f"{k:<28} {v:>14.6f} {UNITS.get(k, '')}{extra}")
    if traced:
        for k, v in sorted(report.items()):
            print(f"{k:<28} {v:>14.6f} {UNITS.get(k, '')}")
    for k, v in failures.items():
        print(f"FAILED {k}: {v}")
    print(f"record: {os.path.relpath(stem + '.json', ROOT)}")
    print(json.dumps({"correct": not failures and failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in report.items()}}))
    return 0


def _attach_jobs(tracer: Tracer, parsed: dict) -> None:
    """Job and stage spans under the phase span that owns their group."""
    owner = {s["group"]: s["id"] for s in tracer.spans if s["group"]}
    for jid, j in sorted(parsed["jobs"].items()):
        g = j["group"] or tracer.group_at(j["submit_ms"])
        if g not in owner:
            continue
        js = {"id": len(tracer.spans), "parent": owner[g], "name": f"job:{jid}",
              "group": None, "start": j["submit_ms"] / 1e3,
              "end": (j["end_ms"] or j["submit_ms"]) / 1e3}
        tracer.spans.append(js)
        for sid in j["stages"]:
            st = parsed["stages"].get(sid)
            if st and st["start_ms"]:
                tracer.spans.append({"id": len(tracer.spans), "parent": js["id"],
                                     "name": f"stage:{sid}", "group": None,
                                     "start": st["start_ms"] / 1e3,
                                     "end": (st["end_ms"] or st["start_ms"]) / 1e3})


if __name__ == "__main__":
    sys.exit(main())
