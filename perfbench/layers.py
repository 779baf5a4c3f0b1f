"""Per-layer metrics and the span tree of a traced harness run.

The harness records a span for the workload, each pass, each operation
and each phase of an operation (reclaim, prepare, build, sink or call).
Spark jobs and stages carry the id of the phase span that submitted them
(the `perfbench.span` local property), so they are attributed by where
they were submitted, not by when the listener saw them. Catalyst planning
phases come from each statement's QueryPlanningTracker and are attributed
to the sink (or binding call) whose time window holds them; the parsing
and analysis of an entry's final DataFrame, which Spark runs eagerly
inside the entry's `q`, are read from that DataFrame's own tracker and
moved from build to plan.

Every figure except set-up, codegen and `unattributed.jobs` is a
per-pass total over the steady passes, reported as the median across them.
"""
import os

from stats import median

MB = 1024.0 * 1024.0
PLAN_PHASES = ("analysis", "optimization", "planning")


def _union(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(iv, lo, hi):
    s, e = max(iv[0], lo), min(iv[1], hi)
    return (s, e) if e > s else None


def per_layer(h, sink, run_dir):
    spans = {s["id"]: s for s in h["spans"]}
    children = {}
    for s in h["spans"]:
        children.setdefault(s["parent"], []).append(s)
    dur = {i: (s["end_ns"] - s["start_ns"]) / 1e9 for i, s in spans.items()}

    # phase span id -> (pass, op, phase)
    where = {}
    op_phases = {}
    for p in h["passes"]:
        for o in p["ops"]:
            ph = {c["name"]: c["id"] for c in children.get(o["span"], [])}
            op_phases[(p["pass"], o["op"])] = ph
            for name, sid in ph.items():
                where[sid] = (p["pass"], o["op"], name)

    # planning phases (ms intervals) of each statement, by the sink window holding them
    plan = {}
    sink_windows = sorted(
        ((spans[sid]["start_ns"] / 1e6, spans[sid]["end_ns"] / 1e6, key)
         for key, ph in op_phases.items()
         for name, sid in ph.items() if name in ("sink", "call")))
    for q in h["plans"]:
        ph = {k: v for k, v in q["phases"].items() if k in PLAN_PHASES}
        if not ph:
            continue
        first = min(v[0] for v in ph.values())
        for lo, hi, key in sink_windows:
            if lo - 1 <= first <= hi:
                for k, v in ph.items():
                    c = _clip(v, lo - 1, hi + 1)
                    if c:
                        plan.setdefault(key, {}).setdefault(k, []).append(c)
                break

    jobs_by = {}
    unattributed = 0
    for j in h["jobs"]:
        w = where.get(j["span"])
        if w is None:
            if j["span"] < 0:
                unattributed += 1
            continue
        jobs_by.setdefault(w, []).append(j)
    stages_by = {}
    for st in h["stages"]:
        w = where.get(st["span"])
        if w is not None:
            stages_by.setdefault(w, []).append(st)

    b = "call" if sink == "binding" else "sink"
    steady = [p for p in h["passes"] if p["kind"] == "steady"]
    per_pass = []
    op_rows = {}
    for p in h["passes"]:
        t = dict.fromkeys([
            "reclaim_s", "op_prepare_s", "build_s", "plan_s", "plan.analysis_s",
            "plan.optimization_s", "plan.planning_s", "exec_s", "build.jobs",
            "build.tasks", "build.shuffle_write_mb", "exec.jobs", "exec.stages",
            "exec.tasks", "shuffle.read_mb", "shuffle.write_mb", "spill_mb",
            "input_mb", "write.output_mb", "rows"], 0.0)
        for o in p["ops"]:
            if o["error"]:
                continue
            key = (p["pass"], o["op"])
            ph = op_phases[key]
            pl = plan.get(key, {})
            body_s = dur[ph[b]]
            plan_s = min(_union([iv for k in PLAN_PHASES for iv in pl.get(k, [])]) / 1e3, body_s)
            # parsing and analysis of the final DataFrame ran inside `q`: they
            # count as planning, and come off the build time
            bs = spans[ph["build"]] if "build" in ph else None
            front = [c for c in (_clip(v, bs["start_ns"] / 1e6, bs["end_ns"] / 1e6)
                                 for v in (o.get("df_phases") or {}).values()) if c] if bs else []
            front_s = min(_union(front) / 1e3, dur[ph["build"]]) if front else 0.0
            if sink == "binding":
                firsts = [iv[0] for k in PLAN_PHASES for iv in pl.get(k, [])]
                build_s = (max(0.0, (min(firsts) - spans[ph[b]]["start_ns"] / 1e6) / 1e3)
                           if firsts else 0.0)
                build_s = min(build_s, body_s - plan_s)
            else:
                build_s = dur[ph["build"]] - front_s
            exec_s = body_s - plan_s - (build_s if sink == "binding" else 0.0)
            row = {
                "reclaim_s": dur[ph["reclaim"]], "op_prepare_s": dur[ph["prepare"]],
                "build_s": build_s, "plan_s": plan_s + front_s, "exec_s": exec_s,
                "plan.analysis_s": (_union(pl.get("analysis", [])) + _union(front)) / 1e3,
                "plan.optimization_s": _union(pl.get("optimization", [])) / 1e3,
                "plan.planning_s": _union(pl.get("planning", [])) / 1e3,
                "rows": o.get("rows", 0),
            }
            for phase, prefix in (("build", "build"), (b, "exec")):
                js = jobs_by.get((p["pass"], o["op"], phase), [])
                ss = stages_by.get((p["pass"], o["op"], phase), [])
                row[f"{prefix}.jobs"] = len(js)
                row[f"{prefix}.tasks"] = sum(s["tasks"] for s in ss)
                if prefix == "build":
                    row["build.shuffle_write_mb"] = sum(s["shuffle_write"] for s in ss) / MB
                else:
                    row["exec.stages"] = len(ss)
                    row["shuffle.read_mb"] = sum(s["shuffle_read"] for s in ss) / MB
                    row["shuffle.write_mb"] = sum(s["shuffle_write"] for s in ss) / MB
                    row["spill_mb"] = sum(s["spill"] for s in ss) / MB
                    row["input_mb"] = sum(s["input"] for s in ss) / MB
                    row["write.output_mb"] = sum(s["output"] for s in ss) / MB
            row["accounted_s"] = (row["reclaim_s"] + row["op_prepare_s"] + row["build_s"]
                                  + row["plan_s"] + row["exec_s"]
                                  + (dur[ph["check"]] if "check" in ph else 0.0))
            row["wall_s"] = o["wall_s"]
            op_rows[key] = dict(row, module=o["module"])
            for k in t:
                t[k] += row.get(k, 0.0)
        per_pass.append((p, t))

    def med(k):
        return median([t[k] for p, t in per_pass if p["kind"] == "steady"])

    cold = [p for p in h["passes"] if p["kind"] == "cold"][0]
    reps = h["setup_reps"]
    rows_per_s = 0.0
    if sink == "binding":
        rows_per_s = median([t["rows"] / t["exec_s"] for p, t in per_pass
                             if p["kind"] == "steady" and t["exec_s"] > 0])
    steady_by_op = {}
    for (pi, op), r in op_rows.items():
        if any(p["pass"] == pi for p in steady):
            steady_by_op.setdefault(op, []).append(r)
    traced_suite = sum(median([r["wall_s"] for r in rs]) for rs in steady_by_op.values())
    files = 0
    sink_root = os.path.join(run_dir, "sink")
    for dp, _, fs in os.walk(sink_root):
        files += sum(1 for f in fs if f.endswith(".parquet"))

    m = {
        "peak_rss_mb": (h["peak_rss_mb"], "MB"),
        "engine.session_s": (h["session_s"], "s"),
        "engine.prepare_s": (median([r["prepare_s"] for r in reps]), "s"),
        "engine.warmup_s": (median([r["warmup_s"] for r in reps]), "s"),
        "engine.reclaim_s": (med("reclaim_s"), "s"),
        "engine.op_prepare_s": (med("op_prepare_s"), "s"),
        "build_s": (med("build_s"), "s"),
        "build.jobs": (med("build.jobs"), "count"),
        "build.tasks": (med("build.tasks"), "count"),
        "build.shuffle_write_mb": (med("build.shuffle_write_mb"), "MB"),
        "plan_s": (med("plan_s"), "s"),
        "plan.analysis_s": (med("plan.analysis_s"), "s"),
        "plan.optimization_s": (med("plan.optimization_s"), "s"),
        "plan.planning_s": (med("plan.planning_s"), "s"),
        "exec_s": (med("exec_s"), "s"),
        "exec.jobs": (med("exec.jobs"), "count"),
        "exec.stages": (med("exec.stages"), "count"),
        "exec.tasks": (med("exec.tasks"), "count"),
        "shuffle.read_mb": (med("shuffle.read_mb"), "MB"),
        "shuffle.write_mb": (med("shuffle.write_mb"), "MB"),
        "spill_mb": (med("spill_mb"), "MB"),
        "input_mb": (med("input_mb"), "MB"),
        "write.output_mb": (med("write.output_mb"), "MB"),
        "write.files": (files, "count"),
        "codegen.compile_s": (cold["codegen_s"], "s"),
        "codegen.classes": (cold["codegen_classes"], "count"),
        "gc_s": (median([p["gc_s"] for p in steady]), "s"),
        "process_cpu_s": (median([p["cpu_s"] for p in steady]), "s"),
        "binding.rows_per_s": (rows_per_s, "1/s"),
        "unattributed.jobs": (unattributed, "count"),
        "traced.suite_s": (traced_suite, "s"),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    return metrics, trace_doc(h, op_rows, steady_by_op)


def trace_doc(h, op_rows, steady_by_op):
    """Spans (plus Spark job spans) with self times, module roll-ups and
    the per-operation accounting of wall time by phase."""
    spans = [dict(s) for s in h["spans"]]
    next_id = len(spans)
    for j in h["jobs"]:
        if j["span"] >= 0:
            spans.append({"id": next_id, "parent": j["span"], "name": f"job:{j['job']}",
                          "start_ns": j["start_ms"] * 1_000_000,
                          "end_ns": j["end_ms"] * 1_000_000})
            next_id += 1
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        cover = [c for c in ((_clip((k["start_ns"], k["end_ns"]), s["start_ns"], s["end_ns"]))
                             for k in kids.get(s["id"], [])) if c]
        s["dur_s"] = (s["end_ns"] - s["start_ns"]) / 1e9
        s["self_s"] = s["dur_s"] - _union(cover) / 1e9
    modules = {}
    for op, rs in steady_by_op.items():
        m = modules.setdefault(rs[0]["module"], dict.fromkeys(
            ["suite_s", "build_s", "exec_s", "jobs"], 0.0))
        m["suite_s"] += median([r["wall_s"] for r in rs])
        m["build_s"] += median([r["build_s"] for r in rs])
        m["exec_s"] += median([r["plan_s"] + r["exec_s"] for r in rs])
        m["jobs"] += median([r["build.jobs"] + r["exec.jobs"] for r in rs])
    gaps = [r["wall_s"] - r["accounted_s"] for r in op_rows.values()]
    return {
        "spans": spans,
        "modules": modules,
        "operations": [dict(r, op=op, pass_=pi) for (pi, op), r in sorted(op_rows.items())],
        "accounting": {"max_gap_s": max(gaps, default=0.0),
                       "max_gap_share": max((g / r["wall_s"] for g, r in
                                             zip(gaps, op_rows.values()) if r["wall_s"] > 0),
                                            default=0.0)},
    }
