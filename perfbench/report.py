"""End-to-end and per-layer metrics of one run (see GLOSSARY.md)."""
from collections import defaultdict

from gen import CYCLES
from stats import mean, med, ms, self_times, timing, union_length

E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_ms": "ms", "items_per_s": "1/s"}

GRAPH_RULES = ("pagerank", "cc", "sssp")
STAGES = ("quality", "exact", "minhash", "decontam", "semdedup", "pack")
# curate stage records that make up each reported stage
STAGE_PARTS = {"quality": ("quality",), "exact": ("exact",),
               "minhash": ("minhash_candidates", "minhash_verify", "minhash"),
               "decontam": ("decontam", "decontam_filter"),
               "semdedup": ("semdedup", "semdedup_filter"), "pack": ("pack",)}
SELF_LAYERS = ("harness", "graft.lang", "catalyst", "spark.driver", "spark.jobs",
               "graft.fixpoint", "graft.graphs", "graft.search", "graft.similarity",
               "graft.operators", "graft.dedup", "graft.text", "graft.pipeline")

PER_LAYER_UNITS = {
    "lang.parse_ms": "ms", "lang.run_ms": "ms", "lang.run_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.task_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.job_wall_ms": "ms", "exec.driver_ms": "ms",
    "exec.busy_frac": "ratio",
    **{f"graphs.{r}_{k}": u for r in GRAPH_RULES for k, u in (("ms", "ms"), ("jobs", "count"))},
    "graphs.knee_driver": "count", "graphs.knee_distributed": "count",
    "fixpoint.reach_ms": "ms", "fixpoint.reach_jobs": "count",
    "search.fts_build_ms": "ms", "search.fts_probe_ms": "ms",
    "search.fts_probe_after_write_ms": "ms",
    "similarity.hnsw_build_ms": "ms", "similarity.hnsw_probe_ms": "ms",
    "similarity.hnsw_probe_after_write_ms": "ms", "similarity.hnsw_recall_at_10": "ratio",
    "similarity.semdedup_ms": "ms",
    "index.probes_after_write_frac": "ratio",
    "operators.put_ms": "ms", "operators.rm_ms": "ms", "operators.update_ms": "ms",
    "operators.write_jobs": "count", "operators.asof_ms": "ms",
    "dedup.exact_ms": "ms", "dedup.minhash_ms": "ms", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.verify_yield": "ratio", "dedup.dup_recall": "ratio",
    "text.quality_ms": "ms", "pipeline.decontam_ms": "ms", "pipeline.pack_ms": "ms",
    **{f"{s}.rows_{d}": "count" for s in STAGES for d in ("in", "out")},
    "setup.session_ms": "ms", "setup.load_ms": "ms", "setup.index_ms": "ms",
    "setup.warmup_ms": "ms", "gen_s": "s",
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
    **{f"self.{layer}_share": "ratio" for layer in SELF_LAYERS},
    "trace.overhead_ms_per_op": "ms", "trace.overhead_frac": "ratio",
}


def by_type(records):
    out = defaultdict(list)
    for r in records:
        out[r["type"]].append(r)
    return out


def op_ms(o):
    return ms(o["end"] - o["start"])


def failed(o):
    return not o["ok"] or o.get("check_error") is not None


def loop_of(t, name):
    return next(lp for lp in t["loop"] if lp["pass"] == name)


def end_to_end(records, workload):
    """Untraced run: every end-to-end metric, plus extras such as the read and
    write percentiles (see GLOSSARY.md)."""
    t = by_type(records)
    ops = [o for o in t["op"] if o["pass"] == "main"]
    loop = loop_of(t, "main")
    wall_s = (loop["end"] - loop["start"]) / 1e6
    first = t["first_op"][0]
    end = t["end"][0]
    done = [o for o in ops if not failed(o)]
    e2e = {"setup_s": (first["at"] - first["process_start"]) / 1e6,
           "peak_rss_mb": end["vm_hwm_mb"]}
    extra = {"failed_frac": (len(ops) - len(done)) / max(1, len(ops)), "loop_s": wall_s}
    if workload == "curate_batch":
        # the first chain is the job, cold as a batch user runs it; chains
        # that still fit in the window run warm and are reported apart
        walls = [op_ms(o) for o in ops]
        n = next(s["rows_in"] for s in t["stage"] if s["pass"] == "main" and s["name"] == "quality")
        e2e["op_p50_ms"] = walls[0]
        e2e["items_per_s"] = n / (walls[0] / 1000.0) if not failed(ops[0]) else 0.0
        recalls = [o["outputs"]["dup_recall"] for o in done]
        extra.update({"docs_per_s": e2e["items_per_s"], "n_docs": n, "chains": len(walls),
                      "warm_chain_ms": med(walls[1:]) or None,
                      "dup_recall": mean([r for r in recalls if r is not None])})
    else:
        # metrics come from the first op cycle after the warm-up, so every
        # run measures the same ops however many more the window holds (a
        # later cycle runs warmer, and mixing in some would make the
        # metric depend on where the deadline falls); all ops when the
        # window ended inside the first cycle
        cycle = len(CYCLES[workload])
        counted = ops[:cycle]
        reads = [op_ms(o) for o in counted if o["kind"] == "read"]
        writes = [op_ms(o) for o in counted if o["kind"] == "write"]
        rt, wt = timing(reads), timing(writes)
        e2e["op_p50_ms"] = rt["p50"]
        e2e["items_per_s"] = sum(not failed(o) for o in counted) / (
            (counted[-1]["end"] - counted[0]["start"]) / 1e6)
        recalls = [o["recall"] for o in done if "recall" in o]
        extra.update({"ops_per_s": e2e["items_per_s"], "cycles": len(ops) // cycle,
                      "reads": rt["n"], "writes": wt["n"],
                      "read_p50_ms": rt["p50"], "read_p90_ms": rt["p90"],
                      "write_p50_ms": wt["p50"], "write_p90_ms": wt["p90"],
                      "recall_at_10": mean(recalls) if recalls else None,
                      "recall_probes": len(recalls)})
    return e2e, extra


def per_layer(records, workload, cores, gen_s):
    """Traced run: every per-layer metric (0 where the layer is idle)."""
    t = by_type(records)
    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    traced = [o for o in t["op"] if o["pass"] == "traced"]
    group = {f"pb-traced-{o['id']}": o for o in traced}
    spans = [s for s in t["span"] if s["op"].startswith("pb-traced-")]
    jobs = [j for j in t["job"] if j["op"].startswith("pb-traced-")]

    def op_of(group_name):  # curate stage groups extend the op's group
        return group_name if workload != "curate_batch" else "-".join(group_name.split("-")[:3])

    jobs_of = defaultdict(list)
    for j in jobs:
        jobs_of[op_of(j["op"])].append(j)
    span_of = defaultdict(dict)
    for s in spans:
        span_of[op_of(s["op"])].setdefault(s["name"], s)

    # scheduler and executors, per op
    walls = [op_ms(o) for o in traced]
    per_op = defaultdict(list)
    for g, o in group.items():
        js = jobs_of[g]
        per_op["jobs"].append(len(js))
        for k in ("stages", "tasks", "failed_tasks", "task_ms", "gc_ms", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            per_op[k].append(sum(j[k] for j in js))
        jw = ms(union_length([(j["start"], j["end"]) for j in js], o["start"], o["end"]))
        per_op["job_wall_ms"].append(jw)
        per_op["driver_ms"].append(op_ms(o) - jw)
    for k, v in per_op.items():
        m[f"exec.{k}"] = mean(v)
    m["exec.busy_frac"] = sum(per_op["task_ms"]) / max(1e-9, sum(walls) * cores)

    # self time per layer over the traced ops
    st = self_times(spans, jobs)
    total = sum(st.values()) or 1.0
    for layer in SELF_LAYERS:
        m[f"self.{layer}_share"] = st.get(layer, 0.0) / total

    # tracing overhead: traced minus untraced wall over the same ops
    un, tr = loop_of(t, "untraced"), loop_of(t, "traced")
    over = (tr["end"] - tr["start"]) - (un["end"] - un["start"])
    m["trace.overhead_ms_per_op"] = ms(over) / max(1, tr["ops"])
    m["trace.overhead_frac"] = over / max(1e-9, un["end"] - un["start"])

    setup = {r["step"]: r["ms"] for r in t["setup"]}
    sess = [s for s in t["span"] if s["name"] == "setup.session"]
    m["setup.session_ms"] = ms(sess[0]["end"] - sess[0]["start"]) if sess else 0.0
    m["setup.load_ms"] = setup.get("load", 0.0)
    m["setup.index_ms"] = setup.get("index", 0.0)
    m["setup.warmup_ms"] = setup.get("warmup", 0.0)
    m["gen_s"] = gen_s
    end = t["end"][0]
    m["jvm.gc_ms"] = end["jvm_gc_ms"]
    m["jvm.heap_peak_mb"] = end["heap_peak_mb"]

    knees = [k for k in t["knee"] if k["op"].startswith("pb-traced-")]
    m["graphs.knee_driver"] = sum("branch=driver" in k["line"] for k in knees)
    m["graphs.knee_distributed"] = sum("branch=distributed" in k["line"] for k in knees)

    if workload == "curate_batch":
        curate_layers(m, t)
    else:
        script_layers(m, traced, span_of, jobs_of, setup)
    return m


def script_layers(m, traced, span_of, jobs_of, setup):
    def dur(o, name):
        s = span_of[f"pb-traced-{o['id']}"].get(name)
        return ms(s["end"] - s["start"]) if s else None

    def jobs_in(o, name):
        s = span_of[f"pb-traced-{o['id']}"].get(name)
        return sum(1 for j in jobs_of[f"pb-traced-{o['id']}"]
                   if s and s["start"] <= j["start"] <= s["end"])

    ok = [o for o in traced if not failed(o)]
    m["lang.parse_ms"] = med([d for o in ok if (d := dur(o, "lang.parse")) is not None])
    m["lang.run_ms"] = med([d for o in ok if (d := dur(o, "lang.run")) is not None])
    m["lang.run_jobs"] = mean([jobs_in(o, "lang.run") for o in ok])
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = med([o["phases"].get(phase, 0) for o in ok])
    cls = defaultdict(list)
    for o in ok:
        cls[o["cls"]].append(o)
    walls = {c: [op_ms(o) for o in os_] for c, os_ in cls.items()}
    njobs = {c: [len(jobs_of[f"pb-traced-{o['id']}"]) for o in os_] for c, os_ in cls.items()}
    for r in GRAPH_RULES:
        m[f"graphs.{r}_ms"] = med(walls.get(r, []))
        m[f"graphs.{r}_jobs"] = mean(njobs.get(r, []))
    m["fixpoint.reach_ms"] = med(walls.get("reach", []))
    m["fixpoint.reach_jobs"] = mean(njobs.get("reach", []))
    m["search.fts_build_ms"] = setup.get("fts_build", 0.0)
    m["similarity.hnsw_build_ms"] = setup.get("hnsw_build", 0.0)
    for c, layer in (("fts", "search.fts"), ("hnsw", "similarity.hnsw")):
        m[f"{layer}_probe_ms"] = med([op_ms(o) for o in cls.get(c, []) if not o["after_write"]])
        m[f"{layer}_probe_after_write_ms"] = med([op_ms(o) for o in cls.get(c, []) if o["after_write"]])
    probes = [o for o in traced if "after_write" in o]
    m["index.probes_after_write_frac"] = mean([1.0 if o["after_write"] else 0.0 for o in probes])
    recalls = [o["recall"] for o in ok if "recall" in o]
    m["similarity.hnsw_recall_at_10"] = mean(recalls)
    m["operators.put_ms"] = med([w for c in ("put_order", "put_doc", "put_vec", "put_price")
                                 for w in walls.get(c, [])])
    m["operators.rm_ms"] = med(walls.get("rm_order", []))
    m["operators.update_ms"] = med(walls.get("update_order", []))
    m["operators.write_jobs"] = mean([n for c, v in njobs.items() if c in
                                      ("put_order", "put_doc", "put_vec", "put_price",
                                       "rm_order", "update_order") for n in v])
    m["operators.asof_ms"] = med(walls.get("asof", []))


def curate_layers(m, t):
    stages = [s for s in t["stage"] if s["pass"] == "traced"]
    chains = [o for o in t["op"] if o["pass"] == "traced"]
    per = defaultdict(list)
    rows = {}
    for s in stages:
        per[s["name"]].append(ms(s["end"] - s["start"]))
        rows[s["name"]] = (s["rows_in"], s["rows_out"])

    def stage_ms(name):  # per chain run
        return sum(sum(per[p]) for p in STAGE_PARTS[name]) / max(1, len(chains))
    m["text.quality_ms"] = stage_ms("quality")
    m["dedup.exact_ms"] = stage_ms("exact")
    m["dedup.minhash_ms"] = stage_ms("minhash")
    m["pipeline.decontam_ms"] = stage_ms("decontam")
    m["similarity.semdedup_ms"] = stage_ms("semdedup")
    m["pipeline.pack_ms"] = stage_ms("pack")
    for name, parts in STAGE_PARTS.items():
        if parts[0] in rows:
            m[f"{name}.rows_in"] = rows[parts[0]][0]
            m[f"{name}.rows_out"] = rows[parts[-1]][1]
    if "minhash_verify" in rows:
        cand, ver = rows["minhash_verify"]
        m["dedup.candidate_pairs"] = cand
        m["dedup.verified_pairs"] = ver
        m["dedup.verify_yield"] = ver / cand if cand else 0.0
    recalls = [o["outputs"]["dup_recall"] for o in chains if o["ok"] and o["outputs"].get("dup_recall") is not None]
    m["dedup.dup_recall"] = mean(recalls)
