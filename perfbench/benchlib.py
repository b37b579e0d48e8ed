"""Pure logic of the benchmark: query orders from the seed, the percentile
rule, failure accounting, spans and their self time, and the per-layer
metrics of a traced run. run.py does the process work around it;
test_benchlib.py tests it."""
import math
import random
import statistics


# ---- orders ---------------------------------------------------------------

def order(names, seed, pass_index, client):
    """The seeded order of `names` for one client in one pass. The seed
    changes only the order, never the set."""
    rng = random.Random(f"perfbench:{seed}:{pass_index}:{client}")
    out = sorted(names)
    rng.shuffle(out)
    return out


def chunks(names, n):
    """`names` split into `n` fixed strata: sorted, then every n-th name,
    so each stratum mixes the query families."""
    names = sorted(names)
    return [names[i::n] for i in range(n)]


def plan(sets, seed, clients):
    """One pass per entry of `sets`; each pass lists one seeded order per
    client."""
    return [[order(s, seed, p, c) for c in range(clients)]
            for p, s in enumerate(sets)]


# ---- percentiles ------------------------------------------------------------

MIN_TAIL = 10


def tail_percentile(values, q, min_tail=MIN_TAIL):
    """The nearest-rank q-quantile of `values` (0 < q < 1), or None when
    fewer than `min_tail` samples lie above it: a tail figure needs at least
    ten samples beyond it to mean anything."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    k = max(1, math.ceil(q * n))
    if n - k < min_tail:
        return None
    return xs[k - 1]


def highest_supported_quantile(n, min_tail=MIN_TAIL):
    """The highest quantile with `min_tail` samples above it among `n`, as
    a fraction, or None when n is too small for any."""
    if n <= min_tail:
        return None
    return (n - min_tail) / n


# ---- accounting -------------------------------------------------------------

def classify(inv, expected):
    """'ok', 'wrong', 'error' or 'timeout' for one invocation record. A
    result is right only when its digest equals the anchored one."""
    if inv["status"] != "ok":
        return "timeout" if inv["status"] == "timeout" else "error"
    want = expected.get(inv["name"])
    got = {k: inv.get(k) for k in ("rows", "h1", "h2", "schema")}
    return "ok" if want is not None and want == got else "wrong"


def account(invs, expected, budget_s):
    """Failure accounting over a window's invocations. A failed invocation
    (a throw, a wrong result, or a run past its budget) is counted, never
    dropped; in the latency sample it stands at the budget, so it misses
    any latency limit below the budget."""
    kinds = [classify(i, expected) for i in invs]
    latencies = [
        (i["t1"] - i["t0"]) / 1e3 if k == "ok" else budget_s
        for i, k in zip(invs, kinds)]
    counts = {k: kinds.count(k) for k in ("ok", "wrong", "error", "timeout")}
    attempted = len(invs)
    failed = attempted - counts["ok"]
    return {
        "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted if attempted else 1.0,
        "counts": counts, "latencies_s": latencies,
        "failures": [(i["name"], k, i.get("error", ""))
                     for i, k in zip(invs, kinds) if k != "ok"],
    }


# ---- spans ------------------------------------------------------------------

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its children cover. Spans are dicts with id, parent, name, t0,
    t1 (ms)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
                for c in children.get(s["id"], [])]
        out[s["id"]] = (s["t1"] - s["t0"]) - union_length(kids)
    return out


def _index(records):
    by = {}
    for r in records:
        by.setdefault(r["kind"], []).append(r)
    jobs = {j["job"]: dict(j) for j in by.get("job", [])}
    for e in by.get("job_end", []):
        if e["job"] in jobs:
            jobs[e["job"]]["t1"] = e["t1"]
            jobs[e["job"]]["ok"] = e["ok"]
    stages = {}
    for s in by.get("stage", []):
        stages[(s["stage"], s["attempt"])] = dict(s, tasks_done=[])
    for t in by.get("task", []):
        st = stages.get((t["stage"], t["stage_attempt"]))
        if st is not None:
            st["tasks_done"].append(t)
    # SQL execution id -> job group, and QueryExecution id -> job group
    exec_group = {str(s["exec_id"]): s.get("group") for s in by.get("sql", [])}
    query_group = {e["query_id"]: exec_group.get(str(e["exec_id"]))
                   for e in by.get("sql_end", []) if e.get("query_id") is not None}
    commands = {}
    for c in by.get("command", []):
        g = query_group.get(c["query_id"])
        if g is not None:
            commands.setdefault(g, []).append(c)
    jobs_by_group = {}
    for j in jobs.values():
        jobs_by_group.setdefault(j.get("group"), []).append(j)
    return stages, commands, jobs_by_group


PHASES = ("analysis", "optimization", "planning")


def assign_stages(jobs, stages):
    """{job id: [stage keys]}: each completed stage attempt goes to the
    first job that lists it and was running when the attempt started; a
    listed stage that no job ran again is a skipped stage of that job."""
    out = {j["job"]: [] for j in jobs}
    for key, rec in stages.items():
        for j in sorted(jobs, key=lambda j: j["job"]):
            if (key[0] in j["stages"] and rec["t0"]
                    and j["t0"] <= rec["t0"] <= j.get("t1", j["t0"])):
                out[j["job"]].append(key)
                break
    return out


def spans_for(inv, commands, jobs, stages):
    """The span tree of one invocation: invocation -> construct, analysis,
    optimization, planning, execute; jobs under construct or execute by
    when they started; stages under the job that ran them."""
    sid = inv["id"]
    spans = [{"id": sid, "parent": None, "name": "invocation",
              "t0": inv["t0"], "t1": inv["t1"]},
             {"id": sid + "/construct", "parent": sid, "name": "construct",
              "t0": inv["t0"], "t1": inv["tc"]}]
    # the executed command: the last one whose analysis began after
    # construct ended (construct-time actions run commands of their own)
    cmd = None
    for c in commands:
        a = c["phases"].get("analysis")
        if a and a["t0"] >= math.floor(inv["tc"]) and a["t0"] <= inv["t1"]:
            if cmd is None or a["t0"] >= cmd["phases"]["analysis"]["t0"]:
                cmd = c
    exec_t0 = inv["tc"]
    if cmd is not None:
        for p in PHASES:
            ph = cmd["phases"].get(p)
            if ph:
                t0 = min(max(ph["t0"], inv["tc"]), inv["t1"])
                t1 = min(max(ph["t1"], t0), inv["t1"])
                spans.append({"id": f"{sid}/{p}", "parent": sid, "name": p,
                              "t0": t0, "t1": t1})
                exec_t0 = max(exec_t0, t1)
    spans.append({"id": sid + "/execute", "parent": sid, "name": "execute",
                  "t0": exec_t0, "t1": inv["t1"]})
    ran = assign_stages(jobs, stages)
    for j in sorted(jobs, key=lambda j: j["job"]):
        if "t1" not in j:
            continue
        parent = sid + ("/construct" if j["t0"] < inv["tc"] else "/execute")
        jid = f"{sid}/job{j['job']}"
        spans.append({"id": jid, "parent": parent, "name": "job",
                      "t0": j["t0"], "t1": j["t1"]})
        for s, a in ran[j["job"]]:
            spans.append({"id": f"{jid}/stage{s}.{a}", "parent": jid,
                          "name": "stage", "t0": stages[(s, a)]["t0"],
                          "t1": stages[(s, a)]["t1"]})
    return spans, cmd


def per_layer(records, invs, cores, query_names):
    """Per-layer totals of a traced window. Times are in seconds, summed
    over the window's invocations unless the name says otherwise."""
    stages, commands, jobs_by_group = _index(records)
    m = {}
    add = lambda k, v: m.__setitem__(k, m.get(k, 0.0) + v)
    for k in ("construct.Relational_s", "construct.Pipeline_s",
              "construct.Dialect_s", "construct.jobs", "catalyst.analysis_s",
              "catalyst.optimization_s", "catalyst.planning_s", "exec.s",
              "exec.jobs", "exec.stages", "exec.stages_skipped", "exec.tasks",
              "exec.task_run_s", "exec.sched_delay_s", "exec.task_retries",
              "scan.bytes", "scan.rows", "scan.time_s", "shuffle.write_bytes",
              "shuffle.read_bytes", "shuffle.write_s", "shuffle.fetch_wait_s",
              "spill.mem_bytes", "spill.disk_bytes", "exec.peak_mem_bytes",
              "exec.task_cpu_s", "exec.task_gc_s", "stage.cached_rdds",
              "stage.cached_bytes", "write.bytes", "write.rows",
              "plan.exchanges", "plan.broadcasts", "trace.unexplained_s",
              "exec.driver_s"):
        m[k] = 0.0
    rule_calls = rule_eff = 0
    exec_intervals = []
    worst = (0.0, 1.0)  # (max task ms, ratio) of the stage with the slowest task
    per_query = {}
    all_spans = []
    for inv in invs:
        if inv["status"] != "ok":
            continue
        js = jobs_by_group.get(inv["id"], [])
        spans, cmd = spans_for(inv, commands.get(inv["id"], []), js, stages)
        all_spans.extend(spans)
        selfs = self_times(spans)
        byname = {}
        for s in spans:
            byname.setdefault(s["name"], []).append(s)
        dur = lambda n: sum(s["t1"] - s["t0"] for s in byname.get(n, [])) / 1e3
        add(f"construct.{inv['module']}_s", dur("construct"))
        for p in PHASES:
            add(f"catalyst.{p}_s", dur(p))
        add("exec.s", dur("execute"))
        add("trace.unexplained_s", selfs[inv["id"]] / 1e3)
        add("exec.driver_s", selfs[inv["id"] + "/execute"] / 1e3)
        exec_intervals.extend((s["t0"], s["t1"]) for s in byname["execute"])
        per_query.setdefault(inv["name"], []).append((inv["t1"] - inv["t0"]) / 1e3)
        m["stage.cached_rdds"] = max(m["stage.cached_rdds"], inv["cached_rdds"])
        m["stage.cached_bytes"] = max(m["stage.cached_bytes"], inv["cached_bytes"])
        if cmd is not None:
            rule_calls += cmd["rule_calls"]
            rule_eff += cmd["rule_effective"]
            add("plan.exchanges", cmd["exchanges"])
            add("plan.broadcasts", cmd["broadcasts"])
        for c in commands.get(inv["id"], []):
            add("scan.time_s", c["scan_ms"] / 1e3)
        assigned = assign_stages(js, stages)
        for j in js:
            in_exec = j["t0"] >= inv["tc"]
            add("exec.jobs" if in_exec else "construct.jobs", 1)
            ran = assigned[j["job"]]
            if in_exec:
                add("exec.stages", len(ran))
                add("exec.stages_skipped",
                    len(set(j["stages"]) - {k[0] for k in ran}))
            for k in ran:
                tasks = stages[k]["tasks_done"]
                for t in tasks:
                    add("exec.tasks", 1 if in_exec else 0)
                    if t.get("attempt", 0) > 0:
                        add("exec.task_retries", 1)
                    if "run_ms" not in t:
                        continue
                    wall = t["t1"] - t["t0"]
                    add("exec.task_run_s", t["run_ms"] / 1e3)
                    add("exec.sched_delay_s", max(0, wall - t["run_ms"] - t["deser_ms"]
                                                  - t["ser_ms"] - t["get_ms"]) / 1e3)
                    add("exec.task_cpu_s", t["cpu_ns"] / 1e9)
                    add("exec.task_gc_s", t["gc_ms"] / 1e3)
                    add("scan.bytes", t["in_bytes"])
                    add("scan.rows", t["in_rows"])
                    add("write.bytes", t["out_bytes"])
                    add("write.rows", t["out_rows"])
                    add("shuffle.write_bytes", t["sw_bytes"])
                    add("shuffle.write_s", t["sw_ns"] / 1e9)
                    add("shuffle.read_bytes", t["sr_bytes"])
                    add("shuffle.fetch_wait_s", t["fetch_ms"] / 1e3)
                    add("spill.mem_bytes", t["spill_mem"])
                    add("spill.disk_bytes", t["spill_disk"])
                    m["exec.peak_mem_bytes"] = max(m["exec.peak_mem_bytes"], t["peak_mem"])
                durs = sorted(t["t1"] - t["t0"] for t in tasks)
                if len(durs) >= 2 and durs[-1] > worst[0]:
                    worst = (durs[-1], durs[-1] / max(statistics.median(durs), 1.0))
    m["catalyst.rule_effective_frac"] = rule_eff / rule_calls if rule_calls else 0.0
    busy = union_length(exec_intervals) / 1e3
    m["exec.core_busy_frac"] = m["exec.task_run_s"] / (cores * busy) if busy else 0.0
    m["exec.straggler_ratio"] = worst[1]
    for q in query_names:
        xs = per_query.get(q, [])
        m[f"query.{q}.s"] = statistics.median(xs) if xs else 0.0
    return m, all_spans
