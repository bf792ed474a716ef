"""Metrics of one benchmark run, from the JVM's raw result and the oracle.

End-to-end metrics (--trace 0) are what a client of the wire sees. Per-layer
metrics (--trace 1) come from the in-process replay: each statement's wall
time is cut into disjoint parts. An instant covered by a Spark job of the
statement is `exec`; otherwise it belongs to the span it falls in
(`engine.sql`, `plans.*`, `encode.*`); what no span covers is `uncovered`.
So the layer self times plus the uncovered remainder equal the statement's
in-process wall time. `protocol` is the wire latency minus the untraced
in-process latency of the same statement.
"""

import statistics

# Tail percentile: the highest of these with at least ten samples beyond
# it; with fewer than 100 samples the p90 is reported and flagged.
TAIL_PERCENTILES = (99, 95, 90)
SPAN_LAYER = {"engine.sql": "engine", "plans.optimize": "plans",
              "plans.physical": "plans", "encode.wire": "encode",
              "encode.arrow": "encode"}


def percentile(xs, p):
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    for p in TAIL_PERCENTILES:
        if len(xs) * (100 - p) / 100.0 >= 10:
            return percentile(xs, p), p, True
    return percentile(xs, 90), 90, False


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _union_len(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _m(value, unit):
    return {"value": float(value), "unit": unit}


def end_to_end(plan, raw, checked, kinds):
    stmts = raw["http"]["stmts"]
    lat = {k: [r["lat_ms"] for r in stmts if kinds[r["sid"]] == k]
           for k in ("read", "write")}
    ok = sum(1 for r in stmts if r["ok"] and r["sid"] not in checked["bad_sids"])
    storage = raw["storage"]
    read_tail, read_p, read_ok = tail(lat["read"])
    write_tail, write_p, write_ok = tail(lat["write"])
    metrics = {
        "setup_s": _m(raw["setup"]["setup_s"], "s"),
        "read_p50_ms": _m(median(lat["read"]), "ms"),
        "read_tail_ms": _m(read_tail, "ms"),
        "write_p50_ms": _m(median(lat["write"]), "ms"),
        "write_tail_ms": _m(write_tail, "ms"),
        "stmts_per_s": _m(ok / raw["http"]["wall_s"], "1/s"),
        "ok_ratio": _m(ok / max(1, len(stmts)), "ratio"),
        "peak_rss_mb": _m(raw["memory"]["peak_rss_mb"], "MB"),
        "storage_amp": _m(storage["warehouse_bytes"] / max(1, storage["live_bytes"]),
                          "ratio"),
    }
    detail = {"reads": len(lat["read"]), "writes": len(lat["write"]),
              "meta": sum(1 for r in stmts if kinds[r["sid"]] == "meta"),
              "read_tail_percentile": read_p, "read_tail_has_10_beyond": read_ok,
              "write_tail_percentile": write_p, "write_tail_has_10_beyond": write_ok,
              "loop_wall_s": raw["http"]["wall_s"],
              "truncated": raw["http"].get("truncated", False),
              "warmup_s": raw.get("warmup", {}).get("wall_s"),
              "storage": storage, "memory": raw["memory"]}
    return metrics, detail


def per_layer(plan, raw, checked, kinds, by_sid):
    tr = raw["trace"]
    groups, prefix = tr["groups"], tr["group_prefix"]
    http = {r["sid"]: r for r in raw["http"]["stmts"]}
    wire = {r["sid"]: r for r in tr["wire"]}
    plain = {r["sid"]: r for r in tr["untraced"]}
    spans = {}
    for s in tr["spans"]:
        if s["name"] != "stmt":
            spans.setdefault(s["sid"], []).append(s)

    layer = {}  # sid -> {layer: self ms}
    facts = {}  # sid -> per-statement counts
    for r in tr["traced"]:
        sid = r["sid"]
        g = groups.get(f"{prefix}{sid}", {"jobs": [], "stages": [], "exchanges": 0})
        jobs = [(s, e) for s, e in g["jobs"] if e > 0]
        lo, hi = r["start"], r["end"]
        wall = hi - lo
        exec_ms = _union_len(jobs, lo, hi)
        parts = {"engine": 0.0, "plans": 0.0, "encode": 0.0}
        covered = 0.0
        for sp in spans.get(sid, []):
            d = sp["end"] - sp["start"]
            covered += d
            parts[SPAN_LAYER[sp["name"]]] += d - _union_len(jobs, sp["start"], sp["end"])
        uncovered_jobs = exec_ms - sum(_union_len(jobs, sp["start"], sp["end"])
                                       for sp in spans.get(sid, []))
        parts["exec"] = exec_ms
        parts["uncovered"] = wall - covered - uncovered_jobs
        parts["wall"] = wall
        layer[sid] = parts
        named = {sp["name"]: sp["end"] - sp["start"] for sp in spans.get(sid, [])}
        st = g["stages"]
        facts[sid] = {
            "kind": kinds[sid], "named": named, "jobs": len(g["jobs"]),
            "stages": len(st), "tasks": sum(s["tasks"] for s in st),
            "cpu_ms": sum(s["cpu_ns"] for s in st) / 1e6,
            "in_bytes": sum(s["input_bytes"] for s in st),
            "in_records": sum(s["input_records"] for s in st),
            "shuffle_write": sum(s["shuffle_write_bytes"] for s in st),
            "spill": sum(s["spill_disk_bytes"] for s in st),
            "waits": [w for s in st for w in s["waits"]],
            "skews": [max(s["durations"]) / max(1.0, median(s["durations"]))
                      for s in st if len(s["durations"]) >= 2],
            "exchanges": g["exchanges"] + r.get("plan_exchanges", 0),
            "exec_span": (max(e for _, e in jobs) - min(s for s, _ in jobs)) if jobs else None,
            "rows": r.get("rows", 0), "arrow_bytes": r.get("arrow_bytes", 0),
            "reused": r.get("reused", False), "rewrite_ms": r.get("rewrite_ms"),
            "rec": r,
        }

    reads = [s for s in facts if facts[s]["kind"] == "read"]
    writes = [s for s in facts if facts[s]["kind"] == "write"]
    allst = list(facts)
    f = facts

    # reuse: reads whose text ran earlier in the same session of the replay
    seen, repeats, hits = set(), 0, 0
    for sid in sorted(reads):
        key = (by_sid[sid]["session"], by_sid[sid]["sql"])
        if key in seen:
            repeats += 1
            hits += 1 if f[sid]["reused"] else 0
        seen.add(key)

    # bytes written per user byte, over writes with a known table size
    grown, user = 0.0, 0.0
    for sid in writes:
        rec = f[sid]["rec"]
        rows_before = rec.get("live_rows_before", -1)
        if rows_before and rows_before > 0 and "wh_bytes_after" in rec:
            per_row = rec["live_bytes_before"] / rows_before
            grown += rec["wh_bytes_after"] - rec["wh_bytes_before"]
            user += checked["rows_changed"].get(sid, 0) * per_row

    overhead = [wire[s]["lat_ms"] - plain[s]["lat_ms"] for s in allst
                if s in wire and s in plain]
    trace_overhead = [layer[s]["wall"] - plain[s]["lat_ms"] for s in allst if s in plain]
    n_all = max(1, len(allst))
    refreshes = [s for s in writes if by_sid[s].get("refresh")]
    files = raw["storage"]["files_per_table"]
    m = {
        "protocol.overhead_ms_p50": _m(median(overhead), "ms"),
        "protocol.response_kb_p50": _m(median([http[s]["resp_bytes"] / 1024
                                               for s in reads if s in http]), "KB"),
        "protocol.chunks_per_stmt": _m(mean([http[s]["chunks"] for s in reads if s in http]),
                                       "count"),
        "engine.sql_ms_p50": _m(median([layer[s]["engine"] for s in reads]), "ms"),
        "engine.rewrite_ms_p50": _m(median([f[s]["rewrite_ms"] for s in reads]), "ms"),
        "engine.reuse_hit_ratio": _m(hits / repeats if repeats else 0.0, "ratio"),
        "engine.write_ms_p50": _m(median([f[s]["named"].get("engine.sql", 0.0)
                                          for s in writes]), "ms"),
        "engine.dt_refresh_ms_p50": _m(median([f[s]["named"].get("engine.sql", 0.0)
                                               for s in refreshes]), "ms"),
        "plans.optimize_ms_p50": _m(median([f[s]["named"].get("plans.optimize", 0.0)
                                            for s in reads]), "ms"),
        "plans.physical_ms_p50": _m(median([f[s]["named"].get("plans.physical", 0.0)
                                            for s in reads]), "ms"),
        "plans.exchanges_per_stmt": _m(mean([f[s]["exchanges"] for s in allst]), "count"),
        "exec.driver_gap_ms_p50": _m(median([layer[s]["wall"] - layer[s]["exec"]
                                             for s in reads]), "ms"),
        "exec.jobs_per_stmt": _m(mean([f[s]["jobs"] for s in reads]), "count"),
        "exec.stages_per_stmt": _m(mean([f[s]["stages"] for s in reads]), "count"),
        "exec.tasks_per_stmt": _m(mean([f[s]["tasks"] for s in reads]), "count"),
        "exec.jobs_per_write": _m(mean([f[s]["jobs"] for s in writes]), "count"),
        "exec.ms_p50": _m(median([f[s]["exec_span"] for s in reads
                                  if f[s]["exec_span"] is not None]), "ms"),
        "exec.cpu_ms_per_stmt": _m(sum(f[s]["cpu_ms"] for s in allst) / n_all, "ms"),
        "exec.sched_wait_ms_p50": _m(median([w for s in allst for w in f[s]["waits"]]), "ms"),
        "exec.scan_mb_per_stmt": _m(mean([f[s]["in_bytes"] / 1e6 for s in reads]), "MB"),
        "exec.rows_scanned_per_row_out": _m(
            sum(f[s]["in_records"] for s in reads)
            / max(1, sum(f[s]["rows"] for s in reads)), "ratio"),
        "exec.shuffle_write_mb_per_stmt": _m(
            sum(f[s]["shuffle_write"] for s in allst) / 1e6 / n_all, "MB"),
        "exec.gc_ms_per_stmt": _m(tr["gc_ms"] / max(1, tr["executions"]), "ms"),
        "exec.task_skew": _m(median([k for s in allst for k in f[s]["skews"]]) or 1.0,
                             "ratio"),
        "encode.ms_p50": _m(median([layer[s]["encode"] for s in reads]), "ms"),
        "encode.bytes_per_row": _m(sum(f[s]["arrow_bytes"] for s in reads)
                                   / max(1, sum(f[s]["rows"] for s in reads)), "B"),
        "sources.files_per_table": _m(mean(list(files.values())), "count"),
        "sources.files_rewritten_per_write": _m(
            mean([f[s]["rec"]["files_removed"] for s in writes
                  if "files_removed" in f[s]["rec"]]), "count"),
        "sources.bytes_written_per_user_byte": _m(grown / user if user else 0.0, "ratio"),
        "trace.overhead_ms_p50": _m(median(trace_overhead), "ms"),
        "trace.overhead_ratio": _m(sum(layer[s]["wall"] for s in allst if s in plain)
                                   / max(1e-9, sum(plain[s]["lat_ms"] for s in allst
                                                   if s in plain)) - 1, "ratio"),
        "trace.stmt_wall_ms": _m(mean([layer[s]["wall"] for s in allst]), "ms"),
    }
    for name in ("engine", "plans", "exec", "encode", "uncovered"):
        m[f"self.{name}_ms_per_stmt"] = _m(mean([layer[s][name] for s in allst]), "ms")
    m["self.protocol_ms_per_stmt"] = _m(mean(overhead), "ms")
    detail = {"traced_stmts": len(allst), "traced_reads": len(reads),
              "traced_writes": len(writes), "reuse_repeats": repeats,
              "reuse_hits": hits, "replay_wall_s": tr["wall_s"],
              "replay_truncated": tr["truncated"],
              # no workload spills today, so this stays out of the metrics
              "exec_spill_mb": sum(f[s]["spill"] for s in allst) / 1e6,
              "replay_failures": {v: sum(not r["ok"] for r in tr[v])
                                  for v in ("wire", "untraced", "traced")},
              "self_sum_minus_wall_ms": sum(
                  layer[s]["engine"] + layer[s]["plans"] + layer[s]["encode"]
                  + layer[s]["exec"] + layer[s]["uncovered"] - layer[s]["wall"]
                  for s in allst)}
    return m, detail


def derive(plan, raw, checked, trace):
    by_sid = {st["sid"]: st for group in (plan["warmup"], plan["sessions"])
              for stream in group for st in stream}
    by_sid.update({st["sid"]: st for st in plan["checks"]})
    kinds = {sid: st["kind"] for sid, st in by_sid.items()}
    attempted = sum(len(raw.get(p, {}).get("stmts", [])) for p in ("warmup", "http")) \
        + len(raw.get("checks", []))
    failed = len(checked["bad_sids"])
    # A fixed-count workload that hit the deadline ran a different, shorter
    # statement mix: its metrics are not comparable, so the run is not
    # correct (timed workloads are cut by --seconds by design).
    truncated = raw.get("warmup", {}).get("truncated", False) or (
        plan["fixed"] and raw.get("http", {}).get("truncated", False))
    if raw.get("fatal"):
        return {"correct": False, "attempted": max(1, attempted),
                "failed": max(1, attempted), "metrics": {}, "detail": {}}
    if trace:
        metrics, detail = per_layer(plan, raw, checked, kinds, by_sid)
    else:
        metrics, detail = end_to_end(plan, raw, checked, kinds)
    detail["truncated_fixed_run"] = truncated
    return {"correct": failed == 0 and not truncated, "attempted": attempted,
            "failed": failed,
            "metrics": metrics, "detail": detail}
