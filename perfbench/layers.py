"""Per-layer metrics from a traced run.

A traced section holds the harness spans (op or key rep -> build ->
action), the Catalyst phases and file-scan facts of every query, and the
jobs and stages with their task totals. Jobs are tied to their op by job
group, planning phases by time; stages hang under their job.
"""
import stats
from gen import LOOKUP_KINDS

INGEST_KINDS = ("novelty_check", "append", "upsert", "compact")
KERNELS = ("plans.minhash_text", "plans.simhash64", "plans.word_ngrams", "plans.cosine_sim",
           "plans.xml_leaf_map", "plans.array_scan", "plans.repetition_stats",
           "functions.normalize_ws", "functions.pii_scrub", "functions.lang_id")
# span layer -> the module it stands for, deepest first: an instant goes
# to the deepest layer active at it
LAYERS = (("stage", "stage"), ("job", "job"), ("planning", "planning"),
          ("build", "operators"), ("action", "action"), ("op", "harness"))
LAYER_NAME = dict(LAYERS)

PER_LAYER = {
    "registry.eval_ms": "ms",
    "operators.build_s": "s", "operators.build_jobs": "count", "operators.action_jobs": "count",
    "planning.analysis_ms": "ms", "planning.optimizer_ms": "ms", "planning.physical_ms": "ms",
    "planning.codegen_compiles": "count", "planning.codegen_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.input_bytes": "bytes",
    "exec.core_busy_frac": "ratio", "exec.driver_gap_s": "s", "exec.job_wall_ms_p50": "ms",
    **{f"{k}_ns_row": "ns/row" for k in KERNELS},
    "sources.scan_files_per_lookup": "count", "sources.scan_bytes_per_lookup": "bytes",
    "sources.append_ms": "ms", "sources.check_ms": "ms", "sources.compact_ms": "ms",
    "sources.write_amp": "ratio", "sources.space_amp": "ratio",
    "sources.table_files_end": "count",
    **{f"serve.{k}_p50_ms": "ms" for k in LOOKUP_KINDS + INGEST_KINDS},
    "jvm.peak_rss_mb": "MB", "jvm.driver_gc_s": "s",
    "trace.overhead_frac": "ratio", "trace.wall_s": "s", "bridge.count_s": "s",
    **{f"self.{name}_s": "s" for _, name in LAYERS},
    "self.unattributed_s": "s",
}

MS = 1_000_000


def section_nodes(sec):
    """The span forest of a traced section, in epoch ns."""
    nodes, by_group = {}, {}
    for s in sec["spans"]:
        nid = ("span", s["id"])
        nodes[nid] = {"parent": ("span", s["parent"]) if s["parent"] >= 0 else None,
                      "start": s["start_ns"], "end": s["end_ns"], "layer": s["layer"],
                      "name": s["name"]}
        by_group.setdefault(s["group"], []).append(nid)
    spans = list(nodes)

    def deepest(t, candidates):
        inside = [c for c in candidates if nodes[c]["start"] <= t <= nodes[c]["end"]]
        return max(inside, key=lambda c: nodes[c]["start"]) if inside else None

    # a build-time record of a query the listener also reported is dropped
    seen, queries = set(), []
    for q in sec["queries"] + sec.get("queries_build", []):
        if q["qe"] not in seen:
            seen.add(q["qe"])
            queries.append(q)
    for qi, q in enumerate(queries):
        for phase, t in q["phases"].items():
            parent = deepest(t["start_ms"] * MS, spans)
            if parent is not None:
                nodes[("plan", qi, phase)] = {"parent": parent, "start": t["start_ms"] * MS,
                                              "end": t["end_ms"] * MS, "layer": "planning"}
    unattached = 0
    for j in sec["jobs"]:
        parent = deepest(j["start_ms"] * MS, by_group.get(j["group"], []))
        if parent is None:
            # jobs outside any op (untimed checks between ops) have no group
            unattached += bool(j["group"])
            continue
        nodes[("job", j["job"])] = {"parent": parent, "start": j["start_ms"] * MS,
                                    "end": j["end_ms"] * MS, "layer": "job"}
    for st in sec["stages"]:
        if ("job", st["job"]) in nodes and st["submit_ms"] and st["done_ms"]:
            nodes[("stage", st["stage"])] = {"parent": ("job", st["job"]),
                                             "start": st["submit_ms"] * MS,
                                             "end": st["done_ms"] * MS, "layer": "stage"}
    return nodes, unattached


def attribution(sec):
    """Exclusive time per layer over the section's wall: each instant goes
    to the deepest layer active at it (layer_timeline), per root op and in
    total; what no op covers is the unattributed remainder."""
    nodes, unattached = section_nodes(sec)
    clipped, _ = stats.clip_tree(nodes)
    root = {}
    for nid in nodes:
        r = nid
        while nodes[r]["parent"] is not None:
            r = nodes[r]["parent"]
        root[nid] = r
    by_root = {}
    for nid, (s, e) in clipped.items():
        by_root.setdefault(root[nid], []).append((nodes[nid]["layer"], s, e))
    order = [layer for layer, _ in LAYERS]
    total = dict.fromkeys(order, 0)
    by_op = {}
    for r, ivs in by_root.items():
        t = stats.layer_timeline(ivs, order)
        op = by_op.setdefault(nodes[r]["name"], {"n": 0, **{LAYER_NAME[l]: 0.0 for l in order}})
        op["n"] += 1
        for layer, ns in t.items():
            total[layer] += ns
            op[LAYER_NAME[layer]] += ns / 1e9
    wall = (sec["end_ns"] - sec["start_ns"]) / 1e9
    self_s = {LAYER_NAME[l]: ns / 1e9 for l, ns in total.items()}
    return {"wall_s": wall, "self_s": self_s, "unattributed_s": wall - sum(self_s.values()),
            "by_op": by_op, "unattached_jobs": unattached}, nodes


def exec_metrics(sec, nodes, cores):
    jobs = {k: n for k, n in nodes.items() if k[0] == "job"}
    stages = [s for s in sec["stages"] if ("job", s["job"]) in jobs]
    actions = [(n["start"], n["end"]) for n in nodes.values() if n["layer"] == "action"]
    action_wall = sum(e - s for s, e in actions) / 1e9
    gap = 0.0
    for s, e in actions:
        inside = [(max(n["start"], s), min(n["end"], e)) for n in jobs.values()
                  if n["end"] > s and n["start"] < e]
        gap += ((e - s) - stats.union_length(inside)) / 1e9
    task_s = sum(s["run_ms"] for s in stages) / 1e3
    phase = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for k, n in nodes.items():
        if k[0] == "plan":
            phase[k[2]] = phase.get(k[2], 0.0) + (n["end"] - n["start"]) / 1e6

    def jobs_in(layer):
        return sum(1 for n in jobs.values() if nodes[n["parent"]]["layer"] == layer)

    return {
        "operators.build_s": sum(n["end"] - n["start"] for n in nodes.values()
                                 if n["layer"] == "build") / 1e9,
        "operators.build_jobs": jobs_in("build"),
        "operators.action_jobs": jobs_in("action"),
        "planning.analysis_ms": phase["analysis"],
        "planning.optimizer_ms": phase["optimization"],
        "planning.physical_ms": phase["planning"],
        "planning.codegen_compiles": sec["codegen_compiles"],
        "planning.codegen_ms": sec["codegen_ms"],
        "exec.jobs": len(jobs), "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.task_s": task_s,
        "exec.cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "exec.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
        "exec.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "exec.spill_bytes": sum(s["spill"] for s in stages),
        "exec.input_bytes": sum(s["input"] for s in stages),
        "exec.core_busy_frac": task_s / (action_wall * cores) if action_wall else 0.0,
        "exec.driver_gap_s": gap,
        "exec.job_wall_ms_p50": stats.median([(n["end"] - n["start"]) / 1e6
                                              for n in jobs.values()]) or 0.0,
        "jvm.driver_gc_s": (sec["jvm_after"]["gc_ms"] - sec["jvm_before"]["gc_ms"]) / 1e3,
    }


def serve_metrics(sec):
    """sources.* and serve.* from the traced ops of a serve section."""
    samples = sec["serve_samples"][sec["first_sample"]:]
    by_kind = {}
    for s in samples:
        by_kind.setdefault(s["kind"], []).append(s["ms"])
    m = {f"serve.{k}_p50_ms": stats.median(by_kind.get(k, [])) or 0.0
         for k in LOOKUP_KINDS + INGEST_KINDS}
    # file scans of the lookups: Catalyst events that started inside a lookup span
    lookup_spans = [(s["start_ns"], s["end_ns"]) for s in sec["spans"]
                    if s["layer"] == "op" and s["name"] in LOOKUP_KINDS]
    files = fbytes = 0
    for q in sec["queries"]:
        if q["phases"]:
            t = min(v["start_ms"] for v in q["phases"].values()) * MS
            if any(a - MS <= t <= b for a, b in lookup_spans):
                files += q["files"]
                fbytes += q["file_bytes"]
    n_lookups = max(len(lookup_spans), 1)
    m["sources.scan_files_per_lookup"] = files / n_lookups
    m["sources.scan_bytes_per_lookup"] = fbytes / n_lookups
    m["sources.append_ms"] = m["serve.append_p50_ms"]
    m["sources.check_ms"] = m["serve.novelty_check_p50_ms"]
    m["sources.compact_ms"] = m["serve.compact_p50_ms"]
    # bytes the ingest ops' jobs wrote per byte of ingested text
    ingest_groups = {f"op-{s['seq']}-{s['kind']}" for s in samples if s["kind"] in INGEST_KINDS}
    job_group = {j["job"]: j["group"] for j in sec["jobs"]}
    written = sum(st["output"] for st in sec["stages"]
                  if job_group.get(st["job"]) in ingest_groups)
    m["sources.write_amp"] = written / max(sec["traced_text_bytes"], 1)
    # index bytes on disk per byte of indexed document text
    index_bytes = sum(b for k, (_, b) in sec["files_after"].items() if k.startswith("pb_"))
    m["sources.space_amp"] = index_bytes / max(sec["indexed_text_bytes"], 1)
    m["sources.table_files_end"] = sum(f for f, _ in sec["files_after"].values())
    return m


def layer_metrics(raw, cores, corpus_text_bytes):
    sec = raw["sections"][0]
    # Spark's compile-time histogram keeps a bounded reservoir; past it the
    # difference of its sums is not the section's compile time
    if not sec["codegen_exact"]:
        raise ValueError("codegen compile times are inexact: the JVM compiled more "
                         "classes than Spark's compile-time histogram holds")
    attr, nodes = attribution(sec)
    m = {"registry.eval_ms": stats.median(raw["registry_eval_ms"])}
    m.update(exec_metrics(sec, nodes, cores))
    serve_sec = raw.get("serve_section") or dict(sec, serve_samples=raw["serve_samples"])
    serve_sec = dict(serve_sec,
                     traced_text_bytes=serve_sec["text_bytes_after"] - serve_sec["text_bytes_before"],
                     indexed_text_bytes=corpus_text_bytes + serve_sec["text_bytes_after"])
    m.update(serve_metrics(serve_sec))
    for k in KERNELS:
        m[f"{k}_ns_row"] = raw["kernels"][k]
    m["jvm.peak_rss_mb"] = raw["jvm"]["peak_rss_kb"] / 1024
    u = raw["overhead"]["untraced_s"]
    m["trace.overhead_frac"] = raw["overhead"]["traced_s"] / (sum(u) / len(u)) - 1
    m["trace.wall_s"] = attr["wall_s"]
    m["bridge.count_s"] = sum(raw["count_bridge"].values())
    for name, v in attr["self_s"].items():
        m[f"self.{name}_s"] = v
    m["self.unattributed_s"] = attr["unattributed_s"]
    return m, attr
