"""Per-layer instrumentation and metrics for traced runs.

``instrument`` wraps the engine's public entry points, one span name per
call, named after the module that owns it (``catalog.*``, ``table.*``,
``scan.*`` for ``TableScan``, ``streaming.*``). Spans around DataSource
reads and writes, streaming triggers and query phases are opened
by the workload files at their call sites. ``per_layer`` turns the spans
into the metrics ``BENCHMARK.json`` lists: times are the median of one
call's duration, so they do not grow with the number of operations a run
completes; Spark counters are attributed through job groups.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from spans import SPARK_COUNTERS

def _record_table(rec, table, _out) -> None:
    rec["table"] = table.path


def _record_plan(rec, scan, entries) -> None:
    rec.update(scan.last_plan)
    rec["table"] = scan.table.path
    if scan.predicate is not None:
        # kept for the useful-file count, which runs after the loop
        rec["_scan"] = (scan.predicate, [(e["path"], e["partition"]) for e in entries])


def _record_compaction(rec, _table, snap) -> None:
    rec["compacted"] = snap is not None


def instrument(run) -> None:
    from paimon_presto_spark import catalog, table
    from paimon_presto_spark.streaming import source

    tr = run.tracer
    for attr in ("create_table", "get_table", "read_table"):
        tr.wrap(catalog.Catalog, attr, f"catalog.{attr}")
    for attr in ("upsert", "append", "delete", "compact", "create_tag"):
        tr.wrap(table.Table, attr, f"table.{attr}", after=_record_table)
    tr.wrap(table.Table, "compact_buckets", "table.compact_buckets", after=_record_compaction)
    tr.wrap(table.TableScan, "plan_files", "scan.plan_files", after=_record_plan)
    tr.wrap(table.TableScan, "to_df", "scan.build")
    tr.wrap(source, "changelog_stream", "streaming.build")


def _useful_files(table_path: str, predicate, files) -> int:
    """Planned files that hold at least one row matching the predicate."""
    import pyarrow.parquet as pq

    cols = sorted(predicate.references())
    n = 0
    for rel, partition in files:
        path = os.path.join(table_path, rel)
        have = set(pq.read_schema(path).names)
        t = pq.read_table(path, columns=[c for c in cols if c in have]).to_pylist()
        if any(predicate.test_row({**partition, **row}) for row in t):
            n += 1
    return n


def _table_counters(paths: set[str]) -> dict[str, float]:
    from paimon_presto_spark.table import Table

    data_files = data_bytes = meta_bytes = 0
    runs_max = live = compactions = 0
    for p in paths:
        for d, _, fs in os.walk(p):
            for f in fs:
                size = os.path.getsize(os.path.join(d, f))
                if f.endswith(".parquet") and "/data" in d[len(p):]:
                    data_files += 1
                    data_bytes += size
                elif "/data" not in d[len(p):]:
                    meta_bytes += size
        t = Table(None, p)
        entries = t.manifest_entries()
        live += len(entries)
        groups: dict[str, int] = defaultdict(int)
        for e in entries:
            groups[json.dumps([e["partition"], e["bucket"]], sort_keys=True)] += 1
        runs_max = max([runs_max, *groups.values()])
        compactions += sum(t.snapshot(i).commit_kind == "COMPACT" for i in t.snapshot_ids())
    return {
        "table.files_added": data_files,
        "table.data_bytes_written": data_bytes,
        "table.meta_bytes_written": meta_bytes,
        "table.sorted_runs_max": runs_max,
        "table.live_files": live,
        "table.compactions": compactions,
    }


def _subtree_counters(spans: list[dict], root_ids: set[int]) -> dict[str, float]:
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    todo = [s for s in spans if s["id"] in root_ids]
    while todo:
        s = todo.pop()
        for k in SPARK_COUNTERS:
            out[k] += s.get(k, 0)
        todo.extend(kids[s["id"]])
    return out


def per_layer(run, wl, state) -> dict[str, float]:
    tr = run.tracer
    tr.attribute_spark()
    spans = tr.spans
    by = tr.by_name()
    med = tr.median_duration
    m: dict[str, float] = {
        "session.start_s": med("session.start"),
        "catalog.create_table_s": med("catalog.create_table"),
        "catalog.read_table_s": med("catalog.read_table"),
        "table.upsert_s": med("table.upsert"),
        "table.append_s": med("table.append"),
        "table.delete_s": med("table.delete"),
        "scan.plan_files_s": med("scan.plan_files"),
        "scan.build_s": med("scan.build"),
        "scan.action_s": med("scan.action"),
        "datasource.read_s": med("datasource.read"),
        "datasource.write_s": med("datasource.write"),
        "streaming.delta_read_s": med("streaming.delta_read"),
    }
    compacts = [s for s in by.get("table.compact_buckets", []) if s.get("compacted")]
    compacts += by.get("table.compact", [])
    m["table.compact_commit_s"] = (
        statistics.median(s["end"] - s["start"] for s in compacts) if compacts else 0.0
    )

    # tables written by the last set-up and the loop
    last_setup = max((s["start"] for s in spans if s["name"].startswith("setup.")
                      and s["name"] != "setup.warmup"), default=0.0)
    m.update(_table_counters({s["table"] for s in spans
                              if s["start"] >= last_setup and "table" in s}))

    plans = by.get("scan.plan_files", [])
    for field, key in (("total_files", "scan.files_total"),
                       ("after_partition_prune", "scan.files_after_partition"),
                       ("after_stats_skip", "scan.files_after_stats")):
        xs = [s[field] for s in plans if field in s]
        m[key] = statistics.median(xs) if xs else 0.0
    useful = planned = 0
    for s in plans:
        if "_scan" in s and s["start"] >= tr.loop_start:
            pred, files = s.pop("_scan")
            planned += len(files)
            useful += _useful_files(s["table"], pred, files)
    m["scan.files_useful_frac"] = useful / planned if planned else 0.0
    ds = [df.rdd.getNumPartitions() for df in getattr(state, "ds_frames", [])]
    m["datasource.input_partitions"] = statistics.median(ds) if ds else 0.0

    loop_ops = [s for s in spans if s["name"].startswith("op.") and s["start"] >= tr.loop_start]
    tot = _subtree_counters(spans, {s["id"] for s in loop_ops})
    for k in SPARK_COUNTERS:
        m[f"spark.{k}"] = tot[k] / max(1, len(loop_ops))

    # over all query classes: phase times and Spark counters (per query
    # class they are in the JSONL)
    phases: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        parts = s["name"].split(".")
        if parts[0] == "query" and len(parts) == 3 and s["start"] >= tr.loop_start:
            phases[parts[2]].append(s)
    if phases:
        for phase in ("build", "action"):
            xs = [s["end"] - s["start"] for s in phases.get(phase, [])]
            m[f"query.{phase}_s"] = statistics.median(xs) if xs else 0.0
        calls = max(len(phases.get("build", [])), 1)
        c = _subtree_counters(spans, {s["id"] for ss in phases.values() for s in ss})
        for k in SPARK_COUNTERS:
            m[f"query.{k}"] = c[k] / calls

    m["process.peak_rss_mb"] = run.peak_rss_mb()
    m["trace.spans"] = len(spans)
    m["trace.op_gmean_ms"] = run.op_gmean_ms()
    m["trace.probe_ms"] = run.probe_ms()
    m["trace.overhead_ms_per_op"] = tr.overhead_s * 1000.0 / max(1, len(loop_ops))
    if hasattr(wl, "layer_extra"):
        m.update(wl.layer_extra(run, state))

    os.makedirs(os.path.join(run.root, ".perfbench-traces"), exist_ok=True)
    tr.write_jsonl(os.path.join(run.root, ".perfbench-traces",
                                f"{run.workload}-{run.seed}.jsonl"))
    return m
