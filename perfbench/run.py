#!/usr/bin/env python3
"""The graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <headline|sweep|concurrent>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness (perfbench/build.sbt, into .bench_build/); later runs reuse the
build while the sources are unchanged. Each run starts one JVM
(perfbench.Harness) that sets up a session, runs one untimed warm-up pass,
then runs closed-loop clients over seeded query orders in whole timed
passes (at least one, and more until --seconds have passed), and checks
every result against digests anchored on the DuckDB oracles
(perfbench/expected.json, made by perfbench/anchor.py).

With --trace 0 the last stdout line carries the end-to-end metrics. With
--trace 1 the timed window is traced and an untraced window over the same
queries follows it; the last line carries the per-layer metrics of the
traced window plus the tracing overhead. Lines before it print every
metric by name and unit, the failure accounting and the host fingerprint.
Exit code 0 means a result was printed; any other code means no result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))
import benchlib  # noqa: E402

# The 17 queries of graft.Bench.headline: full-scan aggregation, joins,
# sorts, windows, dedup, ANN, text and event shapes at sf0.1.
HEADLINE = [
    "q19_agg_group", "q30_top_revenue", "q31_local_volume",
    "q32_returned_items", "q11_join_merge", "q13_sort_desc",
    "q14_sort_multikey", "q28_window_rank", "q09_join_multikey",
    "q15_distinct", "p01_exact_dedup", "p02_minhash_neardup",
    "p04_ann_cosine_topk", "p42_ann_quantized", "p06_text_stats",
    "p11_events_sessions", "p15_asof_join",
]

# The sweep's 228 queries fall into this many fixed strata of 14 or 15;
# timed pass k runs stratum k-1, so a short run always measures stratum 0
# and a long one (--seconds 300) covers all of them.
SWEEP_STRATA = 16
MIN_PASSES = 1             # timed passes in every run, whatever --seconds

WORKLOADS = {
    # the Bench shape: one client, artifact reuse off, results digested by a
    # noop-shaped sink; its queries read tables by path, so like Bench it
    # registers no catalog
    "headline": dict(sf="sf0.1", register=False, sink="digest",
                     reuse=False, clients=1, fresh=False),
    # the Verify shape: catalog registered at set-up, reuse on, every result
    # written as parquet, every pass from an empty artifact registry
    "sweep": dict(sf="sf0.01", register=True, sink="parquet",
                  reuse=True, clients=1, fresh=True),
    # the headline queries from two clients sharing one session
    "concurrent": dict(sf="sf0.1", register=False, sink="digest",
                       reuse=False, clients=2, fresh=False),
}

HEAP = "4g"
BUDGET_S = 30.0            # per invocation; past it the job group is cancelled
RUN_LIMIT_S = 170.0        # every JVM of a run is stopped by then (plus any
                           # --seconds beyond 50)

# The metric dictionary: name -> kind (end_to_end or per_layer), unit,
# better, the layer it measures, and the end-to-end metric it should move.
METRICS = json.loads((HERE / "metrics.json").read_text())


def names_of(kind):
    return [k for k, v in METRICS.items() if v["kind"] == kind]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def check_tree():
    if not (ROOT / "src/main/scala/graft/SparkEntry.scala").is_file():
        fail(f"no engine sources under {ROOT}/src/main/scala; run from the "
             "root of a graft checkout")
    manifest = HERE / "data/MANIFEST.sha256"
    if not manifest.is_file():
        fail("missing perfbench/data/MANIFEST.sha256")
    for line in manifest.read_text().splitlines():
        digest, rel = line.split(None, 1)
        f = HERE / "data" / rel
        if not f.is_file() or hashlib.sha256(f.read_bytes()).hexdigest() != digest:
            fail(f"benchmark data differs from its manifest: {rel}")
    if not (HERE / "expected.json").is_file():
        fail("missing perfbench/expected.json")


def source_stamp():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project/build.properties"]
    for d in (ROOT / "src/main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness unless an up-to-date build exists, and
    return the runtime classpath."""
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
    want = source_stamp()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    print("perfbench: building engine and harness", file=sys.stderr)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            text, _ = proc.communicate(timeout=800)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail("build timed out", 3)
        out.write(text)
    lines = [ln for ln in text.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "[error]" in text:
        fail(f"build failed, see {log}", 3)
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(want)
    return cp


def stop(proc):
    """Stop a child's whole process group, helpers it started included,
    and wait for the child."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def cpus():
    return int(os.environ.get("SPARK_GRAFT_CPUS") or
               len(os.sched_getaffinity(0)))


def jvm(cp, args):
    """A JVM command line with the engine's forked-run flags: the JDK 17
    opens Spark needs, UTC, no UI, a fixed heap, and every temporary and
    warehouse file inside .bench_build."""
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    java = (Path(os.environ["JAVA_HOME"]) / "bin/java"
            if os.environ.get("JAVA_HOME") else "java")
    return [str(java), *opens, "-XX:-UsePerfData", f"-Xmx{HEAP}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={BUILD / 'warehouse'}",
            "-cp", cp, *args]


def jvm_env():
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def harness(cp, run_dir, cfg, passes, trace, seconds, deadline):
    """Run one harness JVM; return (records, launch epoch ms)."""
    conf, out = run_dir / "harness.conf", run_dir / "harness.jsonl"
    lines = [
        f"sf_dir {(HERE / 'data' / cfg['sf']).relative_to(ROOT)}",
        f"register {int(cfg['register'])}", f"min_passes {MIN_PASSES}",
        f"sink {cfg['sink']}", f"reuse {str(cfg['reuse']).lower()}",
        f"fresh_session_per_pass {int(cfg['fresh'])}",
        f"budget_s {BUDGET_S}", f"window_s {seconds}",
        f"hard_s {max(90.0, seconds + 30.0)}", f"trace {int(trace)}",
        f"out {out}",
        f"work {BUILD / 'work'}"]
    for p, clients in enumerate(passes):
        for c, names in enumerate(clients):
            lines.append(f"pass {p} {c} {','.join(names)}")
    conf.write_text("\n".join(lines) + "\n")
    cmd = jvm(cp, ["perfbench.Harness", str(conf)])
    env = jvm_env()
    with open(run_dir / "harness.log", "w") as log:
        launch_ms = time.time() * 1e3
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"harness passed the run limit, see {run_dir}/harness.log", 4)
        finally:
            stop(proc)
    if proc.returncode != 0 or not out.is_file():
        fail(f"harness exited {proc.returncode}, see {run_dir}/harness.log", 4)
    return [json.loads(ln) for ln in out.read_text().splitlines()], launch_ms


def summarize(records, launch_ms, expected, label):
    """End-to-end metrics and failure accounting of one timed window."""
    setup = next(r for r in records if r["kind"] == "setup")
    window = next(r for r in records
                  if r["kind"] == "window" and r["window"] == label)
    end = next(r for r in records if r["kind"] == "end")
    invs = [r for r in records if r["kind"] == "inv" and r["window"] == label]
    acc = benchlib.account(invs, expected, BUDGET_S)
    # timed wall: the union of the invocations' own intervals, so set-up
    # between passes and the sweep's result checks are not billed
    busy_s = benchlib.union_length([(i["t0"], i["t1"]) for i in invs]) / 1e3
    e2e = {
        "setup_s": (setup["tables_ready_ms"] - launch_ms) / 1e3,
        "queries_per_s": acc["counts"]["ok"] / busy_s if busy_s else 0.0,
        "cpu_s_per_query": window["cpu_ns"] / 1e9 / max(1, acc["attempted"]),
    }
    layers = {
        "session.start_s": (setup["session_ready_ms"] - setup["session_start_ms"]) / 1e3,
        "tables.register_s": (setup["tables_ready_ms"] - setup["session_ready_ms"]) / 1e3,
        "warmup_s": (setup["warm_ready_ms"] - setup["tables_ready_ms"]) / 1e3,
        "driver.gc_s": window["gc_ms"] / 1e3,
        "process.peak_rss_mb": end["peak_rss_kb"] / 1024.0,
    }
    return e2e, layers, acc, invs, window


def host_fingerprint(records, seed):
    host = next(r for r in records if r["kind"] == "host")
    return {"nproc": os.cpu_count(), "affinity": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": host["graft_cpus"],
            "default_parallelism": host["default_parallelism"],
            "driver_mem": HEAP, "max_heap_bytes": host["max_heap_bytes"],
            "java": host["java"], "jvm": host["jvm"], "spark": host["spark"],
            "seed": seed}


def report(name, value, unit):
    print(f"{name} = {value:.6g} {unit}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    check_tree()
    cp = build()
    deadline = time.time() + RUN_LIMIT_S + max(0.0, args.seconds - 50.0)
    cfg = WORKLOADS[args.workload]
    expected = json.loads((HERE / "expected.json").read_text())[cfg["sf"]]
    if args.workload == "sweep":
        timed = benchlib.chunks(expected, SWEEP_STRATA)
    else:
        timed = [HEADLINE] * 64
    # pass 0 is the untimed warm-up, over the first timed pass's set
    passes = benchlib.plan([timed[0]] + timed, args.seed, cfg["clients"])
    run_dir = BUILD / "runs" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    run_dir.mkdir(parents=True, exist_ok=True)
    old = sorted((BUILD / "runs").iterdir(), key=lambda p: p.stat().st_mtime)
    for d in old[:-8]:
        shutil.rmtree(d, ignore_errors=True)

    recs, launch = harness(cp, run_dir, cfg, passes, args.trace, args.seconds,
                           deadline)
    e2e, layers, acc, invs, window = summarize(recs, launch, expected, "plain")
    # correctness covers every invocation: warm-up and every window
    checked = benchlib.account([r for r in recs if r["kind"] == "inv"],
                               expected, BUDGET_S)
    host = host_fingerprint(recs, args.seed)
    print(json.dumps({"host": host}))
    print(f"workload {args.workload}: {window['passes']} pass(es), "
          f"{acc['attempted']} invocations, build+run "
          f"{time.time() - t_start:.1f} s")
    for k, v in e2e.items():
        report(k, v, METRICS[k]["unit"])
    # printed, not bounded: failed_frac is 0 on a good run, and the median
    # of a pass's 15-17 unlike queries moves too much between runs here
    report("failed_frac", acc["failed_frac"], "frac")
    report("query_p50_s", benchlib.statistics.median(acc["latencies_s"]), "s")
    for k, v in layers.items():
        report(k, v, METRICS[k]["unit"])
    p90 = benchlib.tail_percentile(acc["latencies_s"], 0.9)
    if p90 is None:
        print(f"query_p90_s = refused: {acc['attempted']} samples leave fewer "
              f"than {benchlib.MIN_TAIL} above the p90")
    else:
        report("query_p90_s", p90, "s")
    hq = benchlib.highest_supported_quantile(acc["attempted"])
    if hq is not None and hq > 0.5:
        report(f"query_p{int(hq * 100)}_s",
               benchlib.tail_percentile(acc["latencies_s"], hq), "s")
    print(f"correct {checked['counts']['ok']}/{checked['attempted']} "
          "(warm-up included)")
    for name, kind, err in checked["failures"]:
        print(f"FAILED {name}: {kind} {err}")
    metrics = {k: {"value": e2e[k], "unit": METRICS[k]["unit"]}
               for k in names_of("end_to_end")}

    if args.trace:
        te2e, tlayers, tacc, tinvs, _ = summarize(recs, launch, expected,
                                                  "traced")
        per, spans = benchlib.per_layer(recs, tinvs, cpus(), HEADLINE)
        per.update(tlayers)
        base = e2e["queries_per_s"]
        per["trace.overhead_frac"] = (
            1.0 - te2e["queries_per_s"] / base if base else 0.0)
        with open(run_dir / "spans.jsonl", "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        print(f"traced: correct {tacc['counts']['ok']}/{tacc['attempted']}, "
              f"spans in {(run_dir / 'spans.jsonl').relative_to(ROOT)}")
        metrics = {k: {"value": per[k], "unit": METRICS[k]["unit"]}
                   for k in names_of("per_layer")}
        for k, v in metrics.items():
            report(k, v["value"], v["unit"])

    print(json.dumps({"correct": checked["failed"] == 0,
                      "attempted": checked["attempted"],
                      "failed": checked["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
