"""Turn the harness JVM's run record into metrics, a verdict and a report.

The record (written by perfbench.Run) holds raw samples: timed ops with
their latency and outcome, passes, output checks, streaming batches,
reconfiguration round trips and probe totals. Everything statistical
happens here, so it can be tested without a JVM (tests/test_metrics.py).
"""
import math
import os
import statistics

BENCH = os.path.dirname(os.path.abspath(__file__))

# Gated end-to-end metrics (BENCHMARK.json): every workload reports each,
# with the meaning README.md gives per workload. latency_p50_ms is the
# geometric mean over queries of each query's p50 on olap_fixture and
# event_p50_ms on stream_reconfig;
# work_rate is query executions per second of complete passes on
# olap_fixture and stream_rows_s on stream_reconfig.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "latency_p50_ms": "ms",
    "work_rate": "1/s",
}

# The named end-to-end figures of the report; each applies to some
# workloads only and reads n/a elsewhere.
NAMED = [
    ("setup_s", "s"), ("pass_s", "s"), ("cpu_s", "s"),
    ("read_p50_ms", "ms"), ("read_tail_ms", "ms"),
    ("event_p50_ms", "ms"), ("event_tail_ms", "ms"),
    ("stream_rows_s", "1/s"),
    ("reconfig_all_p50_ms", "ms"), ("reconfig_mcs_p50_ms", "ms"),
    ("fail_ratio", "ratio"), ("peak_rss_mb", "MB"), ("heap_live_mb", "MB"),
]

STREAM_OPS = ("tumble_agg", "cep_nfa", "cdc_apply", "fries")
STREAM_FIELDS = {
    "rows_s": "1/s", "event_p50_ms": "ms", "batch_p50_ms": "ms",
    "add_batch_ms": "ms", "plan_ms": "ms", "offset_ms": "ms",
    "log_ms": "ms", "state_rows": "count", "state_bytes": "bytes",
    "state_commit_ms": "ms", "busy_frac": "ratio", "backlog_rows": "count",
}
# per-batch progress fields behind the per-op medians
BATCH_FIELDS = {"event_p50_ms": "event_ms", "batch_p50_ms": "exec_ms",
                "add_batch_ms": "add_batch_ms", "plan_ms": "plan_ms",
                "offset_ms": "offset_ms", "log_ms": "log_ms",
                "state_rows": "state_rows", "state_bytes": "state_bytes",
                "state_commit_ms": "state_commit_ms"}
SCOPES = ("all", "mcs")
PHASES = ("open", "find", "stage", "commit", "cdc")
EXEC_KEYS = ("exec.jobs", "exec.stages", "exec.tasks", "exec.task_cpu_ms",
             "exec.gc_ms", "exec.sched_delay_ms", "exec.shuffle_write_bytes",
             "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.input_bytes")


def query_names():
    with open(os.path.join(BENCH, "expected", "olap_fixture.tsv")) as f:
        return [ln.split("\t")[0] for ln in f
                if ln.strip() and not ln.startswith("#")]


def _per_layer():
    m = {
        "engine.resolve_ms": "ms", "engine.resolve_jobs": "count",
        "engine.plan_analysis_ms": "ms", "engine.plan_optimize_ms": "ms",
        "engine.plan_physical_ms": "ms",
        "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
        "exec.tasks": "count", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
        "exec.sched_delay_ms": "ms", "exec.cpu_util": "ratio",
        "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
        "exec.spill_bytes": "bytes", "exec.input_bytes": "bytes",
        "exec.files_read": "count", "exec.task_skew": "ratio",
    }
    for q in query_names():
        m[f"queries.{q}_ms"] = "ms"
    for p in PHASES:
        m[f"sources.phase_{p}_ms"] = "ms"
    m.update({
        "sources.rewrite_amp": "ratio",
        "sources.files_removed_per_commit": "count",
        "sources.versions": "count", "sources.manifest_read_ms": "ms",
        "sources.space_amp": "ratio",
    })
    for op in STREAM_OPS:
        for k, u in STREAM_FIELDS.items():
            m[f"streaming.{op}.{k}"] = u
    m["fries.dag_ops"] = "count"
    for s in SCOPES:
        m.update({f"fries.{s}.scope_ops": "count",
                  f"fries.{s}.rtt_ms": "ms",
                  f"fries.{s}.inflight_ms": "ms",
                  f"fries.{s}.trigger_wait_ms": "ms",
                  f"fries.{s}.epochs_to_effect": "count"})
    m["trace.overhead_frac"] = "ratio"
    return m


# Per-layer metrics (BENCHMARK.json): a traced run of every workload
# reports each; a layer the workload does not load reads 0.
PER_LAYER = _per_layer()


# ---- statistics -----------------------------------------------------------

def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, label). With ten or fewer samples there is no such
    percentile, and the maximum is reported instead."""
    xs = [x for x in xs if x is not None]
    if not xs:
        return None, "none"
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], "max"
    return s[n - 11], f"p{math.floor(100 * (n - 10) / n)}"


def geomean(xs):
    xs = [x for x in xs if x is not None and x > 0]
    if not xs:
        return None
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _by_name(ops):
    out = {}
    for o in ops:
        out.setdefault(o["name"], []).append(o["ms"])
    return out


def traced_at(toggles, t):
    """Whether tracing was on at time t, from the (time, on) toggles."""
    on = False
    for ts, state in toggles:
        if ts > t:
            break
        on = state
    return on


# ---- summary --------------------------------------------------------------

def summarize(rec, launch_ms):
    """Metrics, verdict and named figures of one run record.

    An op that threw, produced a wrong output, or (streams) fell behind
    its input counts as failed; a pass counts towards pass_s only when
    every op in it succeeded, so a failure never shortens a pass."""
    wl = rec["workload"]
    ops = rec["ops"]
    ok = [o for o in ops if o["ok"]]
    attempted = len(ops)
    failed = attempted - len(ok)
    complete = [p for p in rec["passes"] if p["complete"]]
    named = {}

    def put(name, value, stat, n):
        named[name] = {"value": value, "stat": stat, "n": n}

    first = rec.get("first_op_ms")
    put("setup_s", (first - launch_ms) / 1000.0 if first else None,
        "process start to first timed op", 1)
    put("peak_rss_mb", rec.get("peak_rss_mb"), "VmHWM", 1)
    put("heap_live_mb", rec.get("heap_live_mb"), "heap after a full GC at the end", 1)
    put("fail_ratio", failed / attempted if attempted else None, "ratio",
        attempted)

    if wl == "stream_reconfig":
        st = rec["stream"]
        # input processed in the window, in seconds of each op's fixed rate
        # (an op that falls behind processes less and so costs less CPU)
        input_s = statistics.mean(
            sum(b["rows"] for b in o["batches"]) / o["rate"] for o in st["ops"].values())
        put("cpu_s", st["cpu_ms"] / 1000.0 / input_s if input_s else None,
            "process CPU per second of input processed", len(st["ops"]))
        pooled = [b["event_ms"] for o in st["ops"].values() for b in o["batches"]]
        p50 = median(pooled)
        put("event_p50_ms", p50, "p50", len(pooled))
        v, lbl = tail(pooled)
        put("event_tail_ms", v, lbl, len(pooled))
        put("latency_p50_ms", p50, "p50 event creation to commit, all ops",
            len(pooled))
        rows_s = geomean([o["rows_s"] for o in st["ops"].values()])
        put("stream_rows_s", rows_s, "geomean over ops", len(st["ops"]))
        put("work_rate", rows_s, "stream_rows_s", len(st["ops"]))
        for s in SCOPES:
            rt = [x["rtt_ms"] for x in st["reconfig"] if x["scope"] == s and x["ok"]]
            put(f"reconfig_{s}_p50_ms", median(rt), "p50", len(rt))
        # a pass of the Fries client: one publish per scope, until the
        # batch that applies both; a round with a failed publish is not
        # complete
        rounds = {}
        for x in st["reconfig"]:
            rounds.setdefault(x["round"], []).append(x)
        walls = [(max(x["publish_ms"] + x["rtt_ms"] for x in xs)
                  - min(x["publish_ms"] for x in xs)) / 1000.0
                 for xs in rounds.values() if all(x["ok"] for x in xs)]
        put("pass_s", median(walls), "p50 of complete reconfiguration rounds",
            len(walls))
    else:
        walls = [p["wall_s"] for p in complete]
        put("pass_s", median(walls), "p50 of complete passes", len(walls))
        put("cpu_s", median([p["cpu_s"] for p in complete]),
            "process CPU per complete pass, p50", len(walls))
        xs = [o["ms"] for o in ok if o["kind"] == "query"]
        if xs:
            put("read_p50_ms", median(xs), "p50", len(xs))
            v, lbl = tail(xs)
            put("read_tail_ms", v, lbl, len(xs))
            # the pooled p50 of twenty different queries jumps between
            # queries from run to run; a typical query's p50 does not
            put("latency_p50_ms",
                geomean([median(v) for v in _by_name(
                    [o for o in ok if o["kind"] == "query"]).values()]),
                "geomean over queries of each query's p50", len(xs))
        done = {p["pass"] for p in complete}
        n_done = sum(1 for o in ops if o["pass"] in done)
        put("work_rate", n_done / len(walls) / median(walls) if walls else None,
            "query executions per pass / p50 of complete passes", n_done)

    metrics = {n: dict(named.get(n, {"value": None, "stat": "no samples", "n": 0}),
                       unit=u) for n, u in END_TO_END.items()}
    if rec["trace"]:
        layer = per_layer(rec)
        for name, unit in PER_LAYER.items():
            metrics[name] = {"value": layer.get(name, 0.0), "unit": unit,
                             "stat": "traced run", "n": None}

    # a solo-capacity run runs one op only; it has no pass of the Fries client
    missing = [] if rec.get("solo") else [
        n for n in END_TO_END if metrics[n]["value"] is None]
    checks = list(rec["checks"]) + [
        {"name": f"metric.{n}", "ok": False, "detail": "no samples"}
        for n in missing]
    return {
        "workload": wl, "seed": rec["seed"], "trace": rec["trace"],
        "correct": failed == 0 and all(c["ok"] for c in checks),
        "attempted": attempted, "failed": failed,
        "metrics": metrics, "named": named, "checks": checks,
        "errors": [f"{o['name']}: {o['error']}" for o in ops if not o["ok"]],
        "span_self": rec.get("span_self", [])[:15],
        "marks": rec.get("marks") or {},
    }


def per_layer(rec):
    """Per-layer figures of a traced run, by metric name."""
    vals = {}
    if rec["workload"] == "stream_reconfig":
        _stream_layers(rec, vals)
    else:
        _pass_layers(rec, vals)
    for name, xs in _by_name([o for o in rec["ops"] if o["ok"]]).items():
        if f"queries.{name}_ms" in PER_LAYER:
            vals[f"queries.{name}_ms"] = median(xs)
    for k, v in (rec.get("layers") or {}).items():
        if v is not None:
            vals[k] = v
    return {k: (0.0 if v is None else v) for k, v in vals.items()}


def _pass_layers(rec, vals):
    """Passes alternate traced and untraced: probe totals come from the
    traced ones, the overhead from comparing the two kinds."""
    cores = rec.get("cores") or 1
    layers = rec.get("pass_layers") or {}
    traced = [p for p in rec["passes"]
              if p["complete"] and p["traced"] and str(p["pass"]) in layers]
    rows = []
    for p in traced:
        row = dict(layers[str(p["pass"])])
        mine = [o for o in rec["ops"] if o["pass"] == p["pass"] and o["ok"]]
        row["engine.resolve_ms"] = sum(o.get("resolve_ms", 0.0) for o in mine)
        row["exec.ms"] = sum(o.get("exec_ms", 0.0) for o in mine)
        # task CPU over the cores' wall time (the pass's clients overlap)
        row["exec.cpu_util"] = row["exec.task_cpu_ms"] / max(p["wall_s"] * 1000.0 * cores, 1e-9)
        rows.append(row)
    for k in (rows[0] if rows else {}):
        vals[k] = median([r[k] for r in rows])
    untraced = [p["wall_s"] for p in rec["passes"] if p["complete"] and not p["traced"]]
    if traced and untraced:
        vals["trace.overhead_frac"] = (median([p["wall_s"] for p in traced])
                                       / median(untraced) - 1)


def _stream_layers(rec, vals):
    st = rec["stream"]
    toggles = rec.get("toggles") or []
    cores = rec.get("cores") or 1
    n_traced, ratios = 0, []
    for op, o in st["ops"].items():
        bs = o["batches"]
        for k, field in BATCH_FIELDS.items():
            vals[f"streaming.{op}.{k}"] = median([b[field] for b in bs])
        for k in ("rows_s", "busy_frac", "backlog_rows"):
            vals[f"streaming.{op}.{k}"] = o[k]
        on = [b["exec_ms"] for b in bs if traced_at(toggles, b["start_ms"])]
        off = [b["exec_ms"] for b in bs if not traced_at(toggles, b["start_ms"])]
        n_traced += len(on)
        if on and off:
            ratios.append(median(on) / median(off))
    if ratios:
        vals["trace.overhead_frac"] = geomean(ratios) - 1
    vals["fries.dag_ops"] = st["dag_ops"]
    for s in SCOPES:
        pubs = [x for x in st["reconfig"] if x["scope"] == s and x["ok"]]
        vals[f"fries.{s}.scope_ops"] = st["scope_ops"][s]
        vals[f"fries.{s}.rtt_ms"] = median([x["rtt_ms"] for x in pubs])
        vals[f"fries.{s}.inflight_ms"] = median([x["inflight_ms"] for x in pubs])
        vals[f"fries.{s}.trigger_wait_ms"] = median([x["trigger_wait_ms"] for x in pubs])
        vals[f"fries.{s}.epochs_to_effect"] = median([x["epochs"] for x in pubs])
    vals.update(st.get("cdc_phases") or {})
    hist = st.get("cdc_history") or {}
    consumed = st["ops"].get("cdc_apply", {}).get("consumed_rows") or 0
    if hist:
        vals["sources.versions"] = hist["versions"]
        vals["sources.rewrite_amp"] = hist["rows_added"] / max(consumed, 1)
        vals["sources.files_removed_per_commit"] = hist["files_removed_per_commit"]
        vals["sources.manifest_read_ms"] = hist["manifest_read_ms"]
        vals["sources.space_amp"] = hist["space_amp"]
    probe = st.get("probe") or {}
    if probe and n_traced:
        ex = probe["exec"]
        for k in EXEC_KEYS:
            vals[k] = ex[k] / n_traced
        for k in ("plan_analysis_ms", "plan_optimize_ms", "plan_physical_ms"):
            vals[f"engine.{k}"] = probe[k] / n_traced
        vals["exec.files_read"] = probe["files_read"] / n_traced
        vals["exec.task_skew"] = probe["task_skew"]
        traced_ms = sum(b["exec_ms"] for o in st["ops"].values() for b in o["batches"]
                        if traced_at(toggles, b["start_ms"]))
        vals["exec.ms"] = traced_ms / n_traced
        vals["exec.cpu_util"] = ex["exec.task_cpu_ms"] / max(
            _traced_wall_ms(toggles, st) * cores, 1e-9)


def _traced_wall_ms(toggles, st):
    """Wall time with tracing on inside the measured window."""
    starts = [b["start_ms"] for o in st["ops"].values() for b in o["batches"]]
    if not starts:
        return 0.0
    t0, t1 = min(starts), min(starts) + st["measured_ms"]
    total, on_since = 0.0, None
    for ts, on in toggles:
        ts = min(max(ts, t0), t1)
        if on and on_since is None:
            on_since = ts
        elif not on and on_since is not None:
            total += ts - on_since
            on_since = None
    if on_since is not None:
        total += t1 - on_since
    return total


# ---- report ---------------------------------------------------------------

def _fmt(v):
    if v is None:
        return "n/a"
    return f"{v:.4f}" if abs(v) < 1e6 else f"{v:.6g}"


def report(res):
    env = res.get("env", {})
    commit = env.get("git_commit") or "src:" + str(env.get("source_sha256"))[:12]
    lines = [
        f"# perfbench {res['workload']} seed={res['seed']} "
        f"trace={int(res['trace'])} nproc={env.get('nproc')} "
        f"load1={env.get('load1_before')}->{env.get('load1_after')} "
        f"steal={env.get('cpu_steal_frac', 0):.3f} "
        f"spark={env.get('spark_version')} commit={commit}",
        "# jvm " + " ".join(env.get("jvm_flags_short", [])),
        f"# attempted={res['attempted']} failed={res['failed']} "
        f"correct={res['correct']}",
        "# set-up steps done at (s after JVM start): " + " ".join(
            f"{k}={v / 1000.0:.1f}" for k, v in res.get("marks", {}).items()),
    ]
    for name, unit in NAMED:
        m = res["named"].get(name)
        if m is None or m["value"] is None:
            lines.append(f"#   {name:<22} {'n/a':>12}")
        else:
            lines.append(f"#   {name:<22} {_fmt(m['value']):>12} {unit:<6}"
                         f" {m['stat']}, n={m['n']}")
    for name, unit in END_TO_END.items():
        m = res["metrics"][name]
        lines.append(f"# gate {name:<18} {_fmt(m['value']):>12} {unit:<6}"
                     f" {m['stat']}, n={m['n']}")
    if res["trace"]:
        for name in PER_LAYER:
            m = res["metrics"][name]
            lines.append(f"# layer {name:<40} {_fmt(m['value']):>14} {m['unit']}")
        for s in res["span_self"]:
            lines.append(f"# span-self {s['name']:<40} {s['self_ms']:12.1f} ms"
                         f" x{s['count']}")
    for c in res["checks"]:
        if not c["ok"]:
            lines.append(f"# CHECK FAILED {c['name']}: {c['detail']}")
    for e in res["errors"][:20]:
        lines.append(f"# OP FAILED {e}")
    return lines
