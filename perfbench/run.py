"""Engine benchmark: one workload, closed loop, one client thread, local[nproc].

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--split]
    python3 perfbench/run.py --record [--workload W]   # re-record perfbench/expected.json

Builds the engine and the harness from the checkout (perfbench/build.py),
then runs the JVM harness (perfbench/src) over the committed sf0.1 tables
(perfbench/data/sf0.1). The seed sets the order of operations within a pass
and the first `dbt_daily` day. `--trace 0` prints the end-to-end metrics,
`--trace 1` the per-layer ones; `--split` adds the "where the time goes" table
of the traced passes. The output of every operation, in every pass, is checked
against perfbench/expected.json outside the timed regions. The last stdout
line is the JSON result.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing under the benchmark's own files
import build  # noqa: E402
import stats  # noqa: E402

# A pure-interpreter loop no engine change can move; its idle floor was
# measured as the minimum over repeated runs on a 4-core x86-64 VM.
PROBE_FLOOR_S = 0.0126

# Wall seconds a run's JVM may take before it skips further measured passes,
# so that 4 + 22 runs per workload fit in 3,420 s even on a loaded host.
JVM_BUDGET_S = 65

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", flush=True)


def probe():
    t = time.perf_counter()
    x = 0
    for i in range(200_000):
        x = (x * 31 + i) % 1_000_003
    return time.perf_counter() - t


def machine_speed(samples):
    return stats.median(samples) / PROBE_FLOOR_S


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def data_dir():
    """The benchmark's sf0.1 tables, committed with it."""
    d = os.path.join(HERE, "data", "sf0.1")
    if not os.path.exists(os.path.join(d, "lineitem.parquet")):
        raise SystemExit(f"perfbench: input tables missing: {d}")
    return d


def operations(spec, name, seed):
    """The seeded operation order of one pass, and the dbt_daily start day."""
    rng = random.Random(seed)
    w = spec[name]
    if name != "dbt_daily":
        ops = list(w["ops"])
        rng.shuffle(ops)
        return ops, 0
    start = seed % w["start_days"]
    ops = []
    for i in range(w["slices"]):
        tail = [f"{v}@{i}" for v in w["independent_verbs"]]
        rng.shuffle(tail)
        ops += [f"{v}@{i}" for v in w["ordered_verbs"]] + tail
    ops.append(f"dq.weekly@{w['slices'] - 1}")
    return ops, start


def run_jvm(cp, bdir, workload, ops, start_day, passes, trace, deadline, check_only=False):
    rundir = os.path.join(bdir, "run")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    with open(os.path.join(rundir, "ops.txt"), "w") as fh:
        fh.write("\n".join(ops) + "\n")
    out = os.path.join(rundir, "record.json")
    os.makedirs(os.path.join(rundir, "tmp"))
    # temp files (native-library extraction, session artifacts) stay in the
    # checkout; the heap is committed whole from the start so that peak RSS
    # does not depend on when the collector decides to grow it
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(rundir, "tmp"), "-Dspark.sql.session.timeZone=UTC"]
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--ops", os.path.join(rundir, "ops.txt"), "--data", data_dir(),
            "--scratch", rundir, "--out", out, "--passes", str(passes),
            "--budget-s", str(JVM_BUDGET_S),
            "--trace", "1" if trace else "0", "--start-day", str(start_day),
            "--check-only", "1" if check_only else "0"]
    with open(os.path.join(bdir, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=rundir, stdout=err, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: harness exceeded its time budget")
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(bdir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"perfbench: harness exited with {p.returncode}")
    with open(out) as fh:
        return json.load(fh)


# ── metrics ─────────────────────────────────────────────────────────────

def layer_of(span_name, is_root):
    if is_root:
        return "bench"
    return {"build": "queries", "plan": "catalyst", "execute": "exec"}.get(
        span_name, span_name.split(".")[0])


class Record:
    """Derived views over the harness record of one run."""

    def __init__(self, raw):
        self.raw = raw
        self.passes = [p for p in raw["passes"] if p["pass"] > 0]  # measured
        self.groups = raw["groups"]

    def groups_under(self, tag):
        """Job groups of a pass (`p3`) or an op (`p3.o1`), spans included."""
        return {g: c for g, c in self.groups.items() if g == tag or g.startswith(tag + ".")}

    def pass_groups(self, p):
        return self.groups_under(f"p{p['pass']}")

    def pass_sum(self, p, key, groups=None):
        gs = self.pass_groups(p) if groups is None else groups
        return sum(c[key] for c in gs.values())

    @staticmethod
    def wall(p):
        """Pass wall time, less the output checks between its ops."""
        return (p["end"] - p["start"]) / 1e6 - p["check_s"]

    def tasks(self, groups):
        return [(a / 1e3, b / 1e3) for c in groups.values() for a, b in c["intervals"]]

    def idle(self, p):
        return sum(stats.idle(o["start"] / 1e6, o["end"] / 1e6,
                              self.tasks(self.groups_under(o["tag"])))
                   for o in p["ops"])

    def spans(self, p):
        pre = f"p{p['pass']}."
        return [dict(s, start=s["start"] / 1e6, end=s["end"] / 1e6)
                for s in self.raw["spans"] if s["op"].startswith(pre)]

    def self_by_layer(self, p):
        spans = self.spans(p)
        st = stats.self_times(spans)
        out = {}
        for s in spans:
            layer = layer_of(s["name"], s["parent"] == 0)
            out[layer] = out.get(layer, 0.0) + st[s["id"]]
        roots = sum(s["end"] - s["start"] for s in spans if s["parent"] == 0)
        out["bench"] = out.get("bench", 0.0) + self.wall(p) - roots  # between ops
        return out

    def layer_groups(self, p, prefix):
        return {g: c for g, c in self.pass_groups(p).items()
                if g.split(".", 2)[-1].startswith(prefix) and g.count(".") >= 2}

    def span_time(self, p, prefix):
        return sum(s["end"] - s["start"] for s in self.spans(p)
                   if s["parent"] != 0 and s["name"].startswith(prefix))


def end_to_end(rec, fails, attempted, probes):
    """End-to-end metrics of the untraced passes, and lines printed beside them."""
    ps = [p for p in rec.passes if not p["traced"]]
    lat = [(o["end"] - o["start"]) / 1e6 for p in ps for o in p["ops"]]
    t = stats.tail(lat)
    m = {
        "setup_s": rec.raw["setup_s"],
        "wall_s": stats.median(rec.wall(p) for p in ps),
        "op_p50_s": stats.median(lat),
        "cpu_s": stats.median(rec.pass_sum(p, "cpu_ns") / 1e9 for p in ps),
        "shuffle_mb": stats.median(rec.pass_sum(p, "shuffle_write_bytes") / 1e6 for p in ps),
        "peak_rss_mb": rec.raw["peak_rss_mb"],
    }
    written = stats.median(rec.pass_sum(p, "output_bytes") / 1e6 for p in ps)
    rate, base = stats.fail_rate(fails, attempted)
    tail_note = (f"p{t[0]:.1f} of {t[3]} ops, {t[2]} beyond" if t
                 else f"max of {len(lat)} ops, too few for 10 beyond")
    lines = [f"op_tail_s = {t[1] if t else max(lat)!r} s [{tail_note}]",
             f"written_mb = {written!r} MB", f"fail_rate = {rate!r} [{base}]",
             f"passes = {len(ps)}", f"bench.machine_speed = {machine_speed(probes)!r}"]
    return m, lines


def per_layer(rec, probes, checks, workload):
    tr = [p for p in rec.passes if p["traced"]]
    un = [p for p in rec.passes if not p["traced"]]
    plans = rec.raw["plans"]
    phases = rec.raw["phases"]

    def med(f):
        return stats.median(f(p) for p in tr)

    def rows_out(p):
        n = 0
        for o in p["ops"]:
            c = checks.get(o["name"], "")
            n += int(c.split(":")[0]) if c[:1].isdigit() and workload != "dbt_daily" else 0
        return n

    def rows_checked(p, verbs):
        """Rows the DQ or profiling calls of a pass checked: each call's slice
        rows as the DQ table totals them (the weekly call's: the fact's)."""
        n = 0
        for o in p["ops"]:
            verb, _, sl = o["name"].partition("@")
            if verb in verbs:
                src = "dq.weekly" if verb == "dq.weekly" else "dq.slice"
                for item in checks.get(f"{src}@{sl}", "").split(","):
                    if item.startswith("completeness_event_id="):
                        n += int(item.split("/")[-1])
        return n

    def phase_s(p, name):
        total = sum(plans.get(o["tag"], {}).get(f"{name}_s", 0.0) for o in p["ops"])
        for n, a, b in phases:
            if n == name and any(o["start"] <= a * 1e3 <= o["end"] for o in p["ops"]):
                total += (b - a) / 1e3
        return total

    def plan_count(p, key):
        return sum(plans.get(o["tag"], {}).get(key, 0) for o in p["ops"])

    def lg(p, prefix, key):
        return rec.pass_sum(p, key, rec.layer_groups(p, prefix))

    def ratio(a, b):
        return a / b if b else 0.0

    wall_u = stats.median(rec.wall(p) for p in un)
    wall_t = med(rec.wall)
    m = {
        "queries.build_s": med(lambda p: rec.span_time(p, "build")),
        "queries.build_jobs": med(lambda p: lg(p, "build", "jobs")),
        "queries.barrier_rdds": med(lambda p: rec.pass_sum(p, "block_rdds")),
        "queries.barrier_mb": med(lambda p: rec.pass_sum(p, "block_bytes") / 1e6),
        "catalyst.analysis_s": med(lambda p: phase_s(p, "analysis")),
        "catalyst.optimization_s": med(lambda p: phase_s(p, "optimization")),
        "catalyst.planning_s": med(lambda p: phase_s(p, "planning")),
        "catalyst.exchanges": med(lambda p: plan_count(p, "exchanges")),
        "catalyst.nlj_joins": med(lambda p: plan_count(p, "nlj_joins")),
        "codegen.compiles": med(lambda p: sum(s["compiles"] for s in rec.spans(p))),
        "codegen.compile_s": med(lambda p: sum(s["compile_s"] for s in rec.spans(p))),
        "exec.jobs": med(lambda p: rec.pass_sum(p, "jobs")),
        "exec.stages": med(lambda p: rec.pass_sum(p, "stages")),
        "exec.tasks": med(lambda p: rec.pass_sum(p, "tasks")),
        "exec.idle_s": med(rec.idle),
        "exec.busy_cores": med(lambda p: stats.busy_cores(rec.tasks(rec.pass_groups(p)))),
        "exec.cpu_s": med(lambda p: rec.pass_sum(p, "cpu_ns") / 1e9),
        "exec.task_run_s": med(lambda p: rec.pass_sum(p, "run_ms") / 1e3),
        "exec.gc_s": med(lambda p: rec.pass_sum(p, "gc_ms") / 1e3),
        "exec.spill_mb": med(lambda p: rec.pass_sum(p, "spill_bytes") / 1e6),
        "exec.shuffle_records": med(lambda p: rec.pass_sum(p, "shuffle_write_records")),
        "tables.rows_read": med(lambda p: rec.pass_sum(p, "input_records")),
        "tables.mb_read": med(lambda p: rec.pass_sum(p, "input_bytes") / 1e6),
        "tables.rows_read_per_row_out": med(
            lambda p: ratio(rec.pass_sum(p, "input_records"), rows_out(p))),
        "models.run_s": med(lambda p: rec.span_time(p, "models.run")),
        "models.test_s": med(lambda p: rec.span_time(p, "models.test")),
        "models.snapshot_s": med(lambda p: rec.span_time(p, "models.snapshot")),
        "models.write_amp": med(lambda p: ratio(lg(p, "models.", "output_bytes"),
                                                p["warehouse_bytes"])),
        "dq.run_s": med(lambda p: rec.span_time(p, "dq.")),
        "dq.jobs": med(lambda p: lg(p, "dq.", "jobs")),
        "dq.scan_passes": med(lambda p: ratio(
            lg(p, "dq.", "input_records"),
            rows_checked(p, ("dq.slice", "dq.weekly")))),
        "profiling.run_s": med(lambda p: rec.span_time(p, "profiling.")),
        "profiling.jobs": med(lambda p: lg(p, "profiling.", "jobs")),
        "profiling.scan_passes": med(lambda p: ratio(
            lg(p, "profiling.", "input_records"), rows_checked(p, ("profiling.run",)))),
        "bench.trace_overhead": (wall_t - wall_u) / wall_u,
        "bench.machine_speed": machine_speed(probes),
        "bench.traced_wall_s": wall_t,
    }
    for layer in ("queries", "catalyst", "exec", "models", "dq", "profiling", "bench"):
        m[f"self.{layer}_s"] = med(lambda p: rec.self_by_layer(p).get(layer, 0.0))
    return m


def split_table(rec, m, workload):
    """ROADMAP "Where the time goes" split, median over the traced passes."""
    tr = [p for p in rec.passes if p["traced"]]
    build_ops = stats.median(
        sum(1 for o in p["ops"] if rec.groups.get(o["tag"] + ".build", {}).get("jobs", 0))
        for p in tr)
    wall = m["bench.traced_wall_s"]
    catalyst = m["catalyst.analysis_s"] + m["catalyst.optimization_s"] + m["catalyst.planning_s"]
    rows = [
        ("wall", wall),
        (f"building DataFrames (eager jobs in {build_ops:g} ops)", m["queries.build_s"]),
        ("Catalyst analysis + optimization + planning", catalyst),
        ("no task running", m["exec.idle_s"]),
        ("task CPU", m["exec.cpu_s"]),
    ]
    print(f"where the time goes: {workload}, median of {len(tr)} traced passes")
    for name, v in rows:
        print(f"  {name:<52} {v:10.3f} s  {v / wall:4.0%}")
    print(f"  {'mean tasks in flight while any task runs':<52} {m['exec.busy_cores']:10.3f}")
    print("  self time by layer:", ", ".join(
        f"{k[5:-2]} {v:.3f}" for k, v in m.items() if k.startswith("self.")),
        f"(sum {sum(v for k, v in m.items() if k.startswith('self.')):.3f} s)")


def record_expected(spec, cp, bdir, only=None):
    """Records every operation's output twice; keeps those that agree."""
    path = os.path.join(HERE, "expected.json")
    expected = {}
    if only and os.path.exists(path):
        with open(path) as fh:
            expected = json.load(fh)
    for name, w in spec.items():
        if only and name != only:
            continue
        expected.pop(name, None)
        starts = range(w["start_days"]) if name == "dbt_daily" else [None]
        for sd in starts:
            ops, _ = operations(spec, name, 0)
            runs = [{o["name"]: o["check"] for o in run_jvm(
                        cp, bdir, name, ops, sd or 0, 0, False, time.time() + 1800,
                        check_only=True)["passes"][0]["ops"]} for _ in range(2)]
            got = {op: v for op, v in runs[0].items()
                   if v == runs[1].get(op) and not v.startswith("ERROR")}
            for op in sorted(set(runs[0]) - set(got)):
                log(f"{name}: {op} unstable or failing, not recorded: {runs[0][op]!r}")
            if name == "dbt_daily":
                expected.setdefault(name, {})[str(sd)] = got
            else:
                expected[name] = got
    with open(path, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--split", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    t_start = time.time()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)["workloads"]
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    cold = not os.path.exists(os.path.join(bdir, "classes.sha256"))
    data_dir()
    cp = build.build(bdir)
    if a.record:
        record_expected(spec, cp, bdir, a.workload)
        return
    if a.workload not in spec:
        raise SystemExit(f"perfbench: unknown workload {a.workload!r}; have {sorted(spec)}")
    trace = a.trace == 1 or a.split
    deadline = t_start + (880 if cold else 175)
    ops, start_day = operations(spec, a.workload, a.seed)
    # as many passes as fit the time budget at the pass time measured when
    # the workload was defined: every run of a workload has the same samples
    passes = max(1, round(a.seconds / spec[a.workload]["pass_s"]))
    probes = [probe() for _ in range(5)]
    ticks = cpu_ticks()
    raw = run_jvm(cp, bdir, a.workload, ops, start_day, passes, trace, deadline)
    if ticks and cpu_ticks():
        steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
        log(f"cpu time stolen by the host during the run: {steal / max(total, 1):.1%}")
    probes += [probe() for _ in range(5)]

    with open(os.path.join(HERE, "expected.json")) as fh:
        exp = json.load(fh)[a.workload]
    if a.workload == "dbt_daily":
        exp = exp.get(str(start_day), {})
    rec = Record(raw)
    fails, attempted = stats.failures(raw["passes"], exp)
    for p, op, why in fails:
        log(f"FAILED {op} in pass {p}: {why}")
    e2e, lines = end_to_end(rec, len(fails), attempted, probes)
    # BENCHMARK.json declares the metric names and units a run reports
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    for d in declared["end_to_end"]:
        log(f"{d['name']} = {e2e[d['name']]!r} {d['unit']}")
    for line in lines:
        log(line)
    metrics, shown = e2e, declared["end_to_end"]
    if trace:
        checks = {o["name"]: o["check"] for o in raw["passes"][0]["ops"]}
        metrics, shown = per_layer(rec, probes, checks, a.workload), declared["per_layer"]
        for d in shown:
            log(f"{d['name']} = {metrics[d['name']]!r} {d['unit']}")
        if a.split:
            split_table(rec, metrics, a.workload)
    out = {d["name"]: {"value": metrics[d["name"]], "unit": d["unit"]} for d in shown}
    print(json.dumps({"correct": not fails, "attempted": attempted,
                      "failed": len(fails), "metrics": out}))


if __name__ == "__main__":
    main()
