"""Which package entry points the traced run wraps, and how the recorded
spans and counts become per-layer metrics.

Layer metrics cover the measured window plus the post-window
verification ("measure" and "verify" phases) and are normalised per
measured operation, so runs of different lengths compare: ``X.ms`` is
milliseconds spent inside spans named X per operation, ``X.self_ms``
the same for self time, ``X.calls`` calls per operation.  Set-up layers
(Spark start, index build) are reported from the set-up phase.
"""

from __future__ import annotations

import importlib
import os

from perfbench.spans import PACKAGE, Tracer, self_times, summarize

# (module under the package, "function" or "Class.method", span name)
ENTRY_POINTS = [
    ("session", "get_spark", "session.get_spark"),
    ("plans.sql_predicate", "parse_predicate", "sql_predicate.parse"),
    ("plans.pruning", "PruningRewriter.rewrite", "pruning.rewrite"),
    ("sources.stats", "build_index", "stats.build_index"),
    ("sources.stats", "extract_file_stats", "stats.extract_file_stats"),
] + [
    ("sources.catalog", f"SqliteIndexCatalog.{m}", f"catalog.{m}")
    for m in ("get_files", "all_files", "get_blooms", "get_dicts",
              "get_page_stats", "upsert_files", "upsert_file",
              "remove_file", "upsert_dv", "get_dv_ranges", "commit_version")
] + [
    ("sources.table", f"IndexedParquetTable.{m}", f"table.{m}")
    for m in ("plan_scan", "query", "query_sql", "refresh", "append",
              "delete_where", "update_where", "compact_deletes",
              "count_rows")
]

# Reported by every workload; listed in BENCHMARK.json.
SHARED = [
    ("session.get_spark_s", "s"),
    ("stats.build_index.setup_ms", "ms"),
    ("table.plan_scan.ms", "ms/op"),
    ("table.plan_scan.self_ms", "ms/op"),
    ("table.plan_scan.calls", "1/op"),
    ("pruning.rewrite.ms", "ms/op"),
    ("pruning.rewrite.calls", "1/op"),
    ("catalog.get_files.ms", "ms/op"),
    ("catalog.get_files.calls", "1/op"),
    ("catalog.get_files.rg_returned", "rg/call"),
    ("catalog.all_files.ms", "ms/op"),
    ("catalog.all_files.calls", "1/op"),
    ("spark.action.ms", "ms/op"),
    ("spark.jobs", "1/op"),
    ("spark.stages", "1/op"),
    ("spark.tasks", "1/op"),
    ("table.files_kept_frac", "ratio"),
    ("table.rg_kept_frac", "ratio"),
]


def _after_get_files(tr: Tracer, args, kwargs, result) -> None:
    tr.count("catalog.get_files.rg_returned", sum(len(r) for _, r in result))


def _after_plan_scan(tr: Tracer, args, kwargs, dec) -> None:
    tr.count("table.files_kept", len(dec.files_scanned))
    tr.count("table.files_total", dec.total_files)
    tr.count("table.rg_kept", dec.row_groups_scanned)
    tr.count("table.rg_total", dec.total_row_groups)
    tr.count("table.bloom_skipped", dec.bloom_skipped)
    tr.count("table.dict_skipped", dec.dict_skipped)
    tr.count("table.page_rows_skipped", dec.page_rows_skipped)
    tr.counts[("max", "table.scan_history.len")] = max(
        tr.counts[("max", "table.scan_history.len")],
        len(args[0].scan_history))


def _after_query(tr: Tracer, args, kwargs, df) -> None:
    table = args[0]
    dec = table.last_scan
    if dec is not None:
        tr.count("spark.bytes_planned", sum(
            os.path.getsize(os.path.join(table.data_dir, f))
            for f in dec.files_scanned))


AFTER = {"catalog.get_files": _after_get_files,
         "table.plan_scan": _after_plan_scan,
         "table.query": _after_query}


def install(tracer: Tracer) -> None:
    """Wrap every entry point in ENTRY_POINTS."""
    for mod_name, target, span_name in ENTRY_POINTS:
        mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
        owner, attr = mod, target
        if "." in target:
            cls, attr = target.split(".")
            owner = getattr(mod, cls)
        tracer.wrap(owner, attr, span_name, after=AFTER.get(span_name))


def _query_build_s(tracer: Tracer, phases: set[str]) -> float:
    """Time inside table.query minus its direct plan_scan children."""
    spans = tracer.spans
    total = sum(s.end - s.start for s in spans
                if s.name == "table.query" and s.phase in phases)
    for s in spans:
        if (s.name == "table.plan_scan" and s.parent is not None
                and spans[s.parent].name == "table.query"
                and spans[s.parent].phase in phases):
            total -= s.end - s.start
    return total


def compute(tracer: Tracer, n_ops: int, spark_counts: dict) -> dict:
    """All per-layer metrics: {name: (value, unit)}."""
    window = {"measure", "verify"}
    per = max(n_ops, 1)
    spans = summarize(tracer.spans, window)
    setup = summarize(tracer.spans, {"setup"})
    out: dict = {}

    def c(name):
        return sum(v for (ph, n), v in tracer.counts.items()
                   if n == name and ph in window)

    names = {n for _, _, n in ENTRY_POINTS} | {"spark.action"}
    for name in sorted(names):
        a = spans.get(name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        out[f"{name}.ms"] = (a["total_s"] * 1000 / per, "ms/op")
        out[f"{name}.self_ms"] = (a["self_s"] * 1000 / per, "ms/op")
        out[f"{name}.calls"] = (a["calls"] / per, "1/op")
    out["session.get_spark_s"] = (
        setup.get("session.get_spark", {}).get("total_s", 0.0), "s")
    for name in ("stats.build_index", "stats.extract_file_stats"):
        out[f"{name}.setup_ms"] = (
            setup.get(name, {}).get("total_s", 0.0) * 1000, "ms")
    calls = spans.get("catalog.get_files", {}).get("calls", 0)
    out["catalog.get_files.rg_returned"] = (
        c("catalog.get_files.rg_returned") / max(calls, 1), "rg/call")
    out["table.files_kept_frac"] = (
        c("table.files_kept") / max(c("table.files_total"), 1), "ratio")
    out["table.rg_kept_frac"] = (
        c("table.rg_kept") / max(c("table.rg_total"), 1), "ratio")
    for name in ("table.bloom_skipped", "table.dict_skipped",
                 "table.page_rows_skipped", "spark.bytes_planned"):
        out[name] = (c(name) / per, "1/op")
    out["table.scan_history.len"] = (
        tracer.counts[("max", "table.scan_history.len")], "count")
    out["table.query.build_ms"] = (
        _query_build_s(tracer, window) * 1000 / per, "ms/op")
    for k in ("jobs", "stages", "tasks"):
        out[f"spark.{k}"] = (spark_counts.get(k, 0) / per, "1/op")
    return out


def plan_scan_attribution(tracer: Tracer) -> dict:
    """Shares of table.plan_scan time (measured window) held by its child
    layers and by its own self time; they sum to 1 by construction when
    every child is a traced layer."""
    spans = tracer.spans
    selfs = self_times(spans)
    total = 0.0
    parts: dict = {"self": 0.0}
    for i, s in enumerate(spans):
        if s.name != "table.plan_scan" or s.phase != "measure":
            continue
        total += s.end - s.start
        parts["self"] += selfs[i]
    for s in spans:
        if (s.parent is not None and spans[s.parent].name == "table.plan_scan"
                and spans[s.parent].phase == "measure"):
            parts[s.name] = parts.get(s.name, 0.0) + (s.end - s.start)
    return {k: v / total for k, v in parts.items()} if total else {}
