"""Per-layer metrics and self times from a traced run's raw measurements.

Layers, outermost first: run > pass > entry > build | plan | exec > Spark job
> Spark stage. Jobs and stages carry the job group `<pass>|<entry>` the
harness sets, so each is attached to the entry phase it ran in. A span's
self time is its duration minus the part of it its children cover.

Figures split `.cold` / `.warm` are per pass; each is the median over the
run's cold passes or over its warm passes.
"""
import statistics

LAYERS = ["pass", "entry", "build", "plan", "exec", "job", "stage"]
SKEW_MIN_TASK_MS = 100  # stages whose longest task is shorter are not judged for skew
PLAN_COUNTS = ["exchanges", "broadcasts", "unpartitioned_windows", "cartesians",
               "codegen_stages"]


def _union(intervals, lo, hi):
    covered, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        covered += e - max(s, end)
        end = e
    return covered


def _tree(raw):
    """Nodes {layer, name, pass, entry, start, end, children} for the whole run."""
    nodes = []
    by_id = {}
    phase_of = {}  # (pass, entry) -> [phase nodes]
    for s in raw["spans"]:
        n = {"layer": s["layer"], "name": s["name"], "start": s["start_us"] / 1e6,
             "end": s["end_us"] / 1e6, "children": []}
        by_id[s["id"]] = n
        nodes.append(n)
        parent = by_id.get(s["parent"])
        if parent is not None:
            parent["children"].append(n)
            n["pass"] = parent["name"] if parent["layer"] == "pass" else parent.get("pass")
            n["entry"] = n["name"] if n["layer"] == "entry" else parent.get("entry")
        if n["layer"] == "pass":
            n["pass"] = n["name"]
    for n in nodes:
        if n["layer"] in ("build", "plan", "exec"):
            phase_of.setdefault((n["pass"], n["entry"]), []).append(n)
    stages = {}
    for st in raw["stages"]["stages"]:
        stages.setdefault(st["id"], []).append(st)
    for j in raw["stages"]["jobs"]:
        if "|" not in j["group"]:
            continue
        pass_, entry = j["group"].split("|", 1)
        job = {"layer": "job", "name": entry, "pass": pass_, "entry": entry,
               "start": j["start_us"] / 1e6, "end": j["end_us"] / 1e6, "children": []}
        phases = phase_of.get((pass_, entry), [])
        home = next((p for p in phases if p["start"] <= job["start"] <= p["end"]),
                    phases[-1] if phases else None)
        if home is None:
            continue
        home["children"].append(job)
        nodes.append(job)
        for sid in j["stage_ids"]:
            for st in stages.pop(sid, []):
                node = {"layer": "stage", "name": entry, "pass": pass_, "entry": entry,
                        "start": st["start_us"] / 1e6, "end": st["end_us"] / 1e6,
                        "children": [], "stage": st}
                job["children"].append(node)
                nodes.append(node)
    return nodes


def _self(n):
    lo, hi = n["start"], n["end"]
    return max(0.0, (hi - lo) - _union([(c["start"], c["end"]) for c in n["children"]], lo, hi))


def _skew(stage):
    if stage["tasks"] < 2 or stage["task_max_ms"] < SKEW_MIN_TASK_MS:
        return None
    return stage["task_max_ms"] / max(stage["task_median_ms"], 1.0)


def _pass_figures(p, stages, jobs, cores):
    """Per-layer figures of one pass from that pass's stage and job records."""
    es = [e for e in p["entries"] if "error" not in e]
    tasks = sum(s["tasks"] for s in stages)
    cpu_s = sum(s["cpu_ms"] for s in stages) / 1e3
    skews = [(k, s) for s in stages for k in [_skew(s)] if k is not None]
    if skews:
        worst_skew, worst = max(skews, key=lambda x: x[0])
    else:  # no stage long enough to judge: report the longest one, unskewed
        worst_skew = 1.0
        worst = max(stages, key=lambda s: s["end_us"] - s["start_us"], default=None)
    return {
        "SparkEntry.build_s": (sum(e["build_s"] for e in es), "s"),
        "plans.plan_s": (sum(e["plan_s"] for e in es), "s"),
        "spark.exec_s": (sum(e["exec_s"] for e in es), "s"),
        "spark.task_cpu_s": (cpu_s, "s"),
        "spark.cpu_util": (cpu_s / (p["wall_s"] * cores), "ratio"),
        "spark.shuffle_write_mb": (sum(s["shuffle_write_b"] for s in stages) / 1e6, "MB"),
        "spark.shuffle_read_mb": (sum(s["shuffle_read_b"] for s in stages) / 1e6, "MB"),
        "spark.spill_mb": (sum(s["spill_b"] for s in stages) / 1e6, "MB"),
        "spark.input_mb": (sum(s["input_b"] for s in stages) / 1e6, "MB"),
        "spark.max_task_skew": (worst_skew, "ratio"),
        "spark.skewed_stage_s": (((worst["end_us"] - worst["start_us"]) / 1e6) if worst else 0.0,
                                 "s"),
        "spark.jobs": (float(jobs), "count"),
        "spark.stages": (float(len(stages)), "count"),
        "spark.tasks": (float(tasks), "count"),
        "jvm.jit_s": (p["jit_s"], "s"),
        "jvm.gc_s": (p["gc_s"], "s"),
        "GraftOps.materialized_frames": (sum(e["released"] for e in p["entries"]), "count"),
        "sources.tmp_written_mb": (p["tmp_written_mb"], "MB"),
        "sources.files_written": (p["files_written"], "count"),
        "streaming.shm_written_mb": (p["shm_written_mb"], "MB"),
        "traced.pass_s": (p["wall_s"], "s"),
    }


def per_layer(raw, leaked_mb, cores):
    """Return (metrics {name: (value, unit)}, trace document)."""
    nodes = _tree(raw)
    stages_by_pass, jobs_by_pass = {}, {}
    for st in raw["stages"]["stages"]:
        stages_by_pass.setdefault(st["group"].split("|", 1)[0], []).append(st)
    for j in raw["stages"]["jobs"]:
        label = j["group"].split("|", 1)[0]
        jobs_by_pass[label] = jobs_by_pass.get(label, 0) + 1

    figures = [_pass_figures(p, stages_by_pass.get(p["label"], []),
                             jobs_by_pass.get(p["label"], 0), cores)
               for p in raw["passes"]]
    self_by_pass = []
    entry_rows = {}
    for p in raw["passes"]:
        totals = dict.fromkeys(LAYERS, 0.0)
        for n in nodes:
            if n.get("pass") == p["label"] and n["layer"] in totals:
                s = _self(n)
                totals[n["layer"]] += s
                if n["layer"] != "pass":
                    row = entry_rows.setdefault(p["label"], {}).setdefault(
                        n["entry"], {"self_s": dict.fromkeys(LAYERS[1:], 0.0),
                                     "max_task_skew": 1.0, "task_cpu_s": 0.0})
                    row["self_s"][n["layer"]] += s
                    if n["layer"] == "stage":
                        row["task_cpu_s"] += n["stage"]["cpu_ms"] / 1e3
                        k = _skew(n["stage"])
                        if k is not None:
                            row["max_task_skew"] = max(row["max_task_skew"], k)
        self_by_pass.append(totals)

    metrics = {"session.start_s": (raw["session_start_s"], "s")}
    setup = raw["setup"]
    for idx in ("ivf", "minhash", "simgraph"):
        metrics[f"index.{idx}_s"] = (statistics.median(r.get(f"index_{idx}_s", 0.0) for r in setup),
                                     "s")
    metrics["index.disk_mb"] = (statistics.median(r["index_disk_mb"] for r in setup), "MB")
    kinds = {"cold": [i for i, p in enumerate(raw["passes"]) if p["label"].startswith("cold")],
             "warm": [i for i, p in enumerate(raw["passes"]) if p["label"].startswith("warm")]}
    for name in figures[0]:
        unit = figures[0][name][1]
        for kind, idx in kinds.items():
            metrics[f"{name}.{kind}"] = (statistics.median(figures[i][name][0] for i in idx), unit)
    for layer in LAYERS:
        for kind, idx in kinds.items():
            metrics[f"self.{layer}_s.{kind}"] = (
                statistics.median(self_by_pass[i][layer] for i in idx), "s")
    # one executed plan per successful timed write, in execution order
    done = [e for p in raw["passes"] for e in p["entries"] if "error" not in e]
    plans = raw["write_plans"] if len(raw["write_plans"]) == len(done) else []
    for e, d in zip(done, plans):
        e["plan_digest"] = d
    cold = [e.get("plan_digest", {}) for e in raw["passes"][0]["entries"]]
    for k in PLAN_COUNTS:
        metrics[f"plans.{k}"] = (float(sum(d.get(k, 0) for d in cold)), "count")
    metrics["run.leaked_mb"] = (leaked_mb, "MB")

    trace = {
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "passes": [{"label": p["label"], "wall_s": p["wall_s"],
                    "entries": {e["name"]: dict(e, **entry_rows.get(p["label"], {}).get(e["name"], {}))
                                for e in p["entries"]}}
                   for p in raw["passes"]],
        "spans": raw["spans"],
        "stages": raw["stages"],
    }
    return metrics, trace
