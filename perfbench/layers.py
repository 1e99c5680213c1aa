"""Per-layer metrics of a traced run, from spans, actions, the Spark event
log and successive manifests.

Per-epoch figures are medians over the timed polls of the run;
``sinks.full_refresh_*`` are medians over the starting-table loads of the
set-up. Jobs inside ``SnapshotTable.merge`` are split by
the PySpark action that launched them and the program function calling it:

    stats  collect            called from merge
    list   DataFrameReader    called from _read_files/_read_delta_files
           .parquet           (Spark's parallel file listing)
    stage  write              called from merge (scratch copy of the batch)
    write  write              called from _write_buckets
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from tracing import covered, read_event_log

# name -> (unit, better); BENCHMARK.json lists the same metrics
LAYERS = {
    "session.start_s": ("s", "lower"),
    "jvm.peak_rss_mb": ("MB", "lower"),
    "sources.probe_s": ("s", "lower"),
    "sources.probe_jobs": ("count", "lower"),
    "plans.run_self_s": ("s", "lower"),
    "plans.jobs_per_epoch": ("count", "lower"),
    "sinks.merge_s": ("s", "lower"),
    "sinks.merge_jobs": ("count", "lower"),
    "sinks.merge_driver_s": ("s", "lower"),
    "sinks.merge.stats_s": ("s", "lower"),
    "sinks.merge.stats_jobs": ("count", "lower"),
    "sinks.merge.list_s": ("s", "lower"),
    "sinks.merge.list_jobs": ("count", "lower"),
    "sinks.merge.stage_s": ("s", "lower"),
    "sinks.merge.write_s": ("s", "lower"),
    "sinks.merge.write_jobs": ("count", "lower"),
    "sinks.merge.shuffle_bytes": ("bytes", "lower"),
    "spark.gc_s": ("s", "lower"),
    "sinks.full_refresh_s": ("s", "lower"),
    "sinks.full_refresh_jobs": ("count", "lower"),
    "sinks.bytes_written": ("bytes", "lower"),
    "sinks.files_written": ("count", "lower"),
    "sinks.write_amp": ("ratio", "lower"),
    "sinks.touched_buckets": ("count", "lower"),
    "sinks.manifest_bytes": ("bytes", "lower"),
    "sinks.compact_s": ("s", "lower"),
    "sinks.compact_runs": ("count", "lower"),
    "sinks.compact_bytes_rewritten": ("bytes", "lower"),
    "sinks.read_keys_s": ("s", "lower"),
    "sinks.read_keys_jobs": ("count", "lower"),
    "sinks.read_keys_files": ("count", "lower"),
    "sinks.fold_delta_files": ("count", "lower"),
    "sinks.scan_s": ("s", "lower"),
    "sinks.scan_jobs": ("count", "lower"),
    "state.append_s": ("s", "lower"),
    "streaming.poll_s": ("s", "lower"),
    "streaming.apply_s": ("s", "lower"),
    "streaming.overhead_s": ("s", "lower"),
    "traced.epoch_p50_s": ("s", "lower"),
    "traced.events_per_s": ("1/s", "higher"),
    "traced.lookup_p50_s": ("s", "lower"),
}
LAYER_UNITS = {k: u for k, (u, _) in LAYERS.items()}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


def _files(m: dict) -> dict[str, str]:
    """rel path -> bucket, base and delta files of a manifest."""
    out = {p: b for b, fs in m.get("buckets", {}).items() for p in fs}
    out.update({p: b for b, fs in (m.get("deltas") or {}).items() for p in fs})
    return out


def manifest_epochs(bench) -> dict:
    """Facts read from the tables' manifests while the session is alive:
    bytes/files each timed poll wrote (split merge vs compaction), the
    buckets it touched, the final manifest size, and the files each traced
    point read had to open."""
    from pyspark.sql import types as T

    from relational_data_loader_spark.operators.watermark import bucket_expr

    epochs = []
    for e in bench.epochs:
        t = e["table"].table
        facts = {"merge_bytes": 0, "merge_files": 0, "touched": 0,
                 "compact_bytes": [], "batch_bytes": e["batch_bytes"]}
        prev = t.manifest_at(e["v0"])
        for v in range(e["v0"] + 1, e["v1"] + 1):
            m = t.manifest_at(v)
            old, new = _files(prev), _files(m)
            added = [p for p in new if p not in old]
            nbytes = sum(m["file_stats"][p]["bytes"] for p in added)
            if m.get("kind") == "compact_deltas":
                facts["compact_bytes"].append(nbytes)
            else:
                facts["merge_bytes"] += nbytes
                facts["merge_files"] += len(added)
                changed = {b for p, b in new.items() if p not in old}
                changed |= {b for p, b in old.items() if p not in new}
                facts["touched"] += len(changed)
            prev = m
        epochs.append(facts)

    final = bench.final_table.table
    v = final.current_manifest()["version"]
    manifest_bytes = os.path.getsize(
        os.path.join(final.path, "_manifests", f"v{v:08d}.json")
    )

    reads = [s for s in bench.tracer.spans if s["name"] == "sinks.read_keys" and s.get("timed")]
    keys = sorted({k for s in reads for k in s["keys"]})
    bucket_of = {}
    if keys:
        layout = final.layout_buckets()
        kdf = bench.spark.createDataFrame(
            [(k,) for k in keys], T.StructType([T.StructField("conv_id", T.StringType())])
        )
        bucket_of = {
            r["conv_id"]: str(r["b"])
            for r in kdf.select("conv_id", bucket_expr("conv_id", layout).alias("b")).collect()
        }
    lookups = []
    for s in reads:
        m = s["table"].table.manifest_at(s["version"])
        bs = {bucket_of[k] for k in s["keys"]}
        base = sum(len(m["buckets"].get(b, [])) for b in bs)
        delta = sum(len((m.get("deltas") or {}).get(b, [])) for b in bs)
        lookups.append({"files": base + delta, "delta_files": delta})
    return {"epochs": epochs, "manifest_bytes": manifest_bytes, "lookups": lookups}


def layer_metrics(bench, tracer, event_dir: str, facts: dict) -> dict[str, float]:
    jobs = read_event_log(event_dir)
    by_action = defaultdict(list)
    by_top = defaultdict(list)
    for j in jobs.values():
        if j["end"] is None:
            continue
        by_action[j["action"]].append(j)
        by_top[j["span"]].append(j)
    spans_in = defaultdict(list)
    for s in tracer.spans:
        if s["id"] != s["top"]:
            spans_in[s["top"]].append(s)
    actions_in = defaultdict(list)
    for a in tracer.actions:
        actions_in[a["top"]].append(a)
    tops = [s for s in tracer.spans if s["id"] == s["top"]]
    polls = [s for s in tops if s["name"] == "poll" and s.get("timed")]

    def acts(top, layer, action=None, sites=None):
        return [
            a for a in actions_in[top["id"]]
            if a["layer"] == layer
            and (action is None or a["action"] == action)
            and (sites is None or a["site"] in sites)
        ]

    def jobs_of(actions):
        return [j for a in actions for j in by_action[a["id"]]]

    per = defaultdict(list)
    for p in polls:
        pid = p["id"]
        layers = defaultdict(list)
        for s in spans_in[pid]:
            layers[s["name"]].append(s)
        probe = [a for a in actions_in[pid] if a["site"] == "change_tracking_info"]
        per["sources.probe_s"].append(sum(map(_dur, probe)))
        per["sources.probe_jobs"].append(len(jobs_of(probe)))
        runs = layers["plans.run"]
        if runs:
            children = [s for s in spans_in[pid] if s["parent"] == "plans.run"]
            per["plans.run_self_s"].append(
                sum(map(_dur, runs)) - sum(map(_dur, children)) - sum(map(_dur, probe))
            )
        stream = bench.workload.stream
        per["plans.jobs_per_epoch"].append(
            len(by_top[pid]) if stream else tracer.group_jobs[pid]
        )
        compact_in_merge = [s for s in layers["sinks.compact"] if s["parent"] == "sinks.merge"]
        merge_s = sum(map(_dur, layers["sinks.merge"])) - sum(map(_dur, compact_in_merge))
        merge_acts = [a for a in actions_in[pid] if a["layer"] == "sinks.merge"]
        merge_jobs = jobs_of(merge_acts)
        per["sinks.merge_s"].append(merge_s)
        per["sinks.merge_jobs"].append(len(merge_jobs))
        busy = sum(
            covered([(j["start"], j["end"]) for j in merge_jobs], s["start"], s["end"])
            for s in layers["sinks.merge"]
        )
        per["sinks.merge_driver_s"].append(merge_s - busy)
        for part, action, sites in (
            ("stats", "collect", {"merge"}),
            ("list", "read", {"_read_files", "_read_delta_files"}),
            ("stage", "write", {"merge"}),
            ("write", "write", {"_write_buckets"}),
        ):
            a = acts(p, "sinks.merge", action, sites)
            per[f"sinks.merge.{part}_s"].append(sum(map(_dur, a)))
            per[f"sinks.merge.{part}_jobs"].append(len(jobs_of(a)))
        per["sinks.merge.shuffle_bytes"].append(sum(j["shuffle_bytes"] for j in merge_jobs))
        per["spark.gc_s"].append(sum(j["gc_s"] for j in by_top[pid]))
        per["state.append_s"].append(sum(map(_dur, layers["state.append"])))
        if stream:
            apply_s = sum(map(_dur, layers["streaming.apply"]))
            per["streaming.poll_s"].append(_dur(p))
            per["streaming.apply_s"].append(apply_s)
            per["streaming.overhead_s"].append(_dur(p) - apply_s)
        per["_compact_s"].extend(map(_dur, layers["sinks.compact"]))

    out = {k: _med(v) for k, v in per.items() if not k.startswith("_")}
    out["sinks.compact_s"] = _med(per["_compact_s"])
    out["sinks.compact_runs"] = float(len(per["_compact_s"]))

    full = [s for s in tracer.spans if s["name"] == "sinks.full_refresh"]
    out["sinks.full_refresh_s"] = _med(map(_dur, full))
    out["sinks.full_refresh_jobs"] = _med(
        len(jobs_of([a for a in tracer.actions if a["layer"] == s["name"]
                     and s["start"] <= a["start"] <= s["end"]]))
        for s in full
    )

    ep = facts["epochs"]
    out["sinks.bytes_written"] = _med(e["merge_bytes"] for e in ep)
    out["sinks.files_written"] = _med(e["merge_files"] for e in ep)
    out["sinks.write_amp"] = _med(e["merge_bytes"] / e["batch_bytes"] for e in ep)
    out["sinks.touched_buckets"] = _med(e["touched"] for e in ep)
    out["sinks.compact_bytes_rewritten"] = _med(b for e in ep for b in e["compact_bytes"])
    out["sinks.manifest_bytes"] = float(facts["manifest_bytes"])
    out["sinks.read_keys_files"] = _med(x["files"] for x in facts["lookups"])
    out["sinks.fold_delta_files"] = _med(x["delta_files"] for x in facts["lookups"])

    for name, key in (("sinks.read_keys", "read_keys"), ("sinks.scan", "scan")):
        ts = [s for s in tops if s["name"] == name and s.get("timed")]
        out[f"sinks.{key}_s"] = _med(map(_dur, ts))
        out[f"sinks.{key}_jobs"] = _med(tracer.group_jobs[s["id"]] for s in ts)
    return out
