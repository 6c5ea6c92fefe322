"""Per-layer metrics of a traced run, derived from its spans.

A span is `{id, parent, kind, name, start, end, attrs}` (times in epoch ms);
kinds are workload, phase, pass, query, trigger (with the trigger's
progress report), exec (one SQL execution with planning time and operator
totals), job and stage (with task totals). Only spans under the traced
measurement (the `<workload>/main` span) count. Totals are per pass of the
workload (the consumer's catch-up + live + read round is one pass);
per-trigger figures are medians over triggers. A layer the workload does
not exercise reads 0.
"""
import statistics
from collections import defaultdict

import stats

E2E_OVERHEAD = ("setup_s", "lat_p50_ms", "pass_s", "heap_peak_mb")


def _med(xs):
    return statistics.median(xs) if xs else 0


def _descendants(spans, root):
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out, todo = [], [root["id"]]
    while todo:
        for s in kids.pop(todo.pop(), []):
            out.append(s)
            todo.append(s["id"])
    return out


def derive(workload, report, spans, traced, untraced, mix):
    roots = [s for s in spans if s["kind"] == "workload" and s["name"].endswith("/main")]
    if not roots:
        raise ValueError("trace has no main workload span")
    desc = _descendants(spans, roots[0])
    by_id = {s["id"]: s for s in spans}
    kind = defaultdict(list)
    for s in desc:
        kind[s["kind"]].append(s)
    n_pass = max(1, len(kind["pass"]))
    trig = kind["trigger"]
    prog = [t["attrs"]["progress"] for t in trig]
    execs = [e["attrs"] for e in kind["exec"]]
    stages = [s["attrs"] for s in kind["stage"]]
    m = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    def per_pass(xs):
        return sum(xs) / n_pass

    def dur(key):
        return _med([p["durationMs"].get(key, 0) for p in prog])

    put("trigger.count", len(trig) / n_pass, "count")
    put("trigger.empty_ratio",
        sum(p["numInputRows"] == 0 for p in prog) / len(prog) if prog else 0, "ratio")
    live = [t for t in trig if by_id.get(t["parent"], {}).get("name") == "live"]
    put("trigger.late_ms", _med([t["start"] % 2000 for t in live]), "ms")
    put("trigger.offsets_ms",
        _med([p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0)
              for p in prog]), "ms")
    put("trigger.plan_ms", dur("queryPlanning"), "ms")
    put("trigger.addbatch_ms", dur("addBatch"), "ms")
    put("trigger.wal_ms", dur("walCommit"), "ms")
    put("trigger.commit_ms", dur("commitOffsets"), "ms")

    ops = [[op for op in p.get("stateOperators", [])] for p in prog]

    def st(key):
        return [sum(op.get(key, 0) for op in o) for o in ops]

    put("state.rows_total", max(st("numRowsTotal"), default=0), "rows")
    put("state.rows_updated", per_pass(st("numRowsUpdated")), "rows")
    put("state.mem_bytes", max(st("memoryUsedBytes"), default=0), "B")
    put("state.update_ms", per_pass(st("allUpdatesTimeMs")), "ms")
    put("state.evict_ms", per_pass(st("allRemovalsTimeMs")), "ms")
    put("state.commit_ms", per_pass(st("commitTimeMs")), "ms")
    put("state.dropped_late", sum(st("numRowsDroppedByWatermark")), "rows")

    consumer = workload == "consumer"
    main = report["main"]
    put("parse.ns_per_event", report.get("parse_ns_per_event", 0), "ns")
    backlog = 0
    if consumer:
        rate = main["live"]["rate"]
        backlog = max([max(0, stats.iso_ms(t["attrs"]["progress"]["timestamp"]) -
                           stats.iso_ms(t["attrs"]["progress"]["eventTime"]["max"]))
                       * rate / 1000 for t in live if t["attrs"]["progress"]["numInputRows"]],
                      default=0)
    put("source.backlog_rows", backlog, "rows")

    put("sink.write_ms", _med([e["ms"] for e in execs if e.get("sink_write")]), "ms")
    read = main.get("sink_read", {})
    put("sink.bytes", read.get("bytes", 0), "B")
    put("sink.deltas", read.get("deltas", 0), "count")
    put("sink.resolve_ms_per_delta",
        stats.median(read["s"]) * 1000 / read["deltas"] if read.get("deltas") else 0, "ms")

    put("sql.plan_ms", per_pass([e.get("plan_ms", 0) for e in execs]), "ms")
    put("sql.jobs", len(kind["job"]) / n_pass, "count")
    put("sql.stages", len(stages) / n_pass, "count")
    for name, key, unit in (("sql.tasks", "tasks", "count"), ("sql.task_ms", "task_ms", "ms"),
                            ("sql.sched_wait_ms", "sched_wait_ms", "ms"),
                            ("sql.gc_ms", "gc_ms", "ms"), ("spill.bytes", "spill_bytes", "B"),
                            ("cut.count", "cuts", "count")):
        put(name, per_pass([s.get(key, 0) for s in stages]), unit)
    for name, key, unit in (("exchange.bytes", "exchange_bytes", "B"),
                            ("exchange.rows", "exchange_rows", "rows"),
                            ("scan.rows", "scan_rows", "rows"), ("agg.ms", "agg_ms", "ms"),
                            ("join.smj", "smj", "count"), ("join.bhj", "bhj", "count"),
                            ("topk.agg_ms", "object_agg_ms", "ms")):
        put(name, per_pass([e.get(key, 0) for e in execs]), unit)

    put("build.s", report.get("build_s", 0), "s")
    put("store.bytes", report.get("store_bytes", 0), "B")

    passes = main.get("passes", [])
    for q in mix:
        put(f"q.{q}.s", _med([p[q] for p in passes if q in p]), "s")
    if consumer:
        gc = main["catchup"]["gc_ms"] + main["live"]["gc_ms"]
        one = report["onecore"]
        rows = sum(x["p"]["numInputRows"] for x in one["progress"] if x["key"] == "user_id")
        put("catchup_eps.1core", rows / one["wall_s"], "events/s")
    else:
        gc = main["gc_ms"] / max(1, len(passes))
        put("catchup_eps.1core", 0, "events/s")
    put("jvm.gc_ms", gc, "ms")
    for k in E2E_OVERHEAD:
        put(f"overhead.{k}", traced[k]["value"] - untraced[k]["value"], traced[k]["unit"])
    return m
