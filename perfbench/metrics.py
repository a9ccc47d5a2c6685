"""Turns the JVM's run record into metrics, and checks outputs.

Pure functions over plain data, so they can be unit-tested without Spark
(see tests/test_metrics.py). Times in the record are epoch milliseconds.
"""
import statistics


def union_ms(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    """The parts of `intervals` inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_ms(clip(children, s, e))


def tail(samples):
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. That needs 20 samples or more; with fewer, no
    percentile above the median has that support and the slowest sample
    is reported, as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n >= 20:
        return xs[n - 11], 100.0 * (n - 10) / n
    return xs[-1], 100.0


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def jobs_in(jobs, lo, hi):
    """Jobs submitted inside [lo, hi]. Spark stamps submission in whole
    milliseconds, so a job may read up to 1 ms before the span that
    submitted it."""
    return [j for j in jobs if lo - 1.0 < j["start"] <= hi]


def job_interval(j):
    return (float(j["start"]), float(j["end"]))


def spark_work(jobs, lo, hi, cores):
    """Spark work of jobs submitted in [lo, hi]: counts, busy time and the
    driver gap (wall time not covered by any job)."""
    js = jobs_in(jobs, lo, hi)
    wall = hi - lo
    busy = union_ms(clip([job_interval(j) for j in js], lo, hi))
    task_ms = sum(j["task_ms"] for j in js)
    return {
        "jobs": len(js),
        "tasks": sum(j["tasks"] for j in js),
        "task_ms": task_ms,
        "core_util": task_ms / (wall * cores) if wall > 0 else 0.0,
        "job_busy_ms": busy,
        "driver_gap_ms": wall - busy,
        "input_bytes": sum(j["input_bytes"] for j in js),
        "output_bytes": sum(j["output_bytes"] for j in js),
        "shuffle_bytes": sum(j["shuffle_write_bytes"] for j in js),
    }


def norm(v):
    """A result cell in a form both engines agree on."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return int(v) if v.is_integer() and abs(v) < 2 ** 53 else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return str(v)


def fingerprint(columns, rows):
    """Order-insensitive form of a result: columns sorted by name, rows
    sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return ([columns[i] for i in order],
            sorted(repr(tuple(norm(r[i]) for i in order)) for r in rows))


def nonheap_mb(rec):
    """Median resident memory outside the fixed heap over the timed loop.
    The peak (VmHWM) also catches short spikes, such as a JIT compiler
    arena of 50 MB that lives for a second, which land in one run and not
    in the next; the median over the loop does not."""
    lo, hi = rec["loop_start"], rec["loop_end"]
    kb = [v for t, v in rec["rss_samples"] if lo <= t <= hi]
    return (median(kb) - rec["heap_kb"]) / 1024.0


def summary(rec, plain_s, setup_s, rows_per_s, attempted, failed):
    """The metrics every run reports; plain_s are the untraced op times."""
    tail_s, tail_pct = tail(plain_s) if plain_s else (0.0, 0.0)
    return {
        "setup_s": setup_s,
        "op_p50_s": median(plain_s),
        "rows_per_s": rows_per_s,
        "rss_nonheap_mb": nonheap_mb(rec),
        "jvm.rss_nonheap_peak_mb": (rec["rss_peak_kb"] - rec["heap_kb"]) / 1024.0,
        "op.tail_s": tail_s,
        "op.tail_pct": tail_pct,
        "op.samples": len(plain_s),
        "fail_ratio": failed / attempted if attempted else 0.0,
    }


def per_op(rows, traced_s, plain_s):
    """Medians of the traced ops' values (one dict per op), the spread of
    their job and task counts, and the tracing overhead: median traced op
    over median untraced op, minus one."""
    m = {k: median([r[k] for r in rows]) for k in (rows[0] if rows else {})}
    for k in ("sink.jobs", "sink.tasks"):
        vs = [r[k] for r in rows]
        m[k + "_range"] = max(vs) - min(vs) if vs else 0
    m["trace.samples"] = len(traced_s)
    m["trace.overhead"] = (median(traced_s) / median(plain_s) - 1.0
                           if traced_s and plain_s else 0.0)
    return m


def ingest(rec, served, aggregates, trace):
    """Metrics and output check of an ingest run.

    rec: the JVM record; served: the stub's (snapshot_time, body_index)
    per request; aggregates: expected aggregates per body index.
    Returns (metrics, attempted, failed, mismatches)."""
    ticks = rec["ticks"]
    n_targets = len(rec["targets"])
    by_tick = {}
    for s in rec["spans"]:
        by_tick.setdefault(s["tick"], []).append(s)

    def one(tick_id, name):
        return next((s for s in by_tick.get(tick_id, []) if s["name"] == name), None)

    def dur(s):
        return s["end"] - s["start"] if s else 0.0

    # Output check: every acknowledged append must read back exactly the
    # body's aggregates; nothing else may be in the table.
    expected = {}
    for t in ticks:
        if not t["fetch_ok"]:
            continue
        snap, idx = served[t["tick"] - 1]
        for s in by_tick.get(t["tick"], []):
            if s["name"] == "append" and s["ok"]:
                expected.setdefault(s["label"], {})[snap] = aggregates[idx]
    mismatches = 0
    for target in rec["targets"]:
        got = {r[0]: r[1:] for r in rec["readback"].get(target, [])}
        want = expected.get(target, {})
        for snap in set(got) | set(want):
            a = want.get(snap)
            if a is None or got.get(snap) != [
                    a["rows"], a["icao24_crc32_sum"], a["vertical_rate_count"],
                    a["time_position_sum"]]:
                mismatches += 1
    fetched = [t for t in ticks if t["fetch_ok"]]
    attempted = len(ticks) + n_targets * len(fetched)
    failed = (len(ticks) - len(fetched)
              + sum(n_targets - t["ok_targets"] for t in fetched) + mismatches)

    timed = [t for t in ticks if t["phase"] == "timed"]
    plain = [dur(one(t["tick"], "tick")) / 1000.0 for t in timed if not t["traced"]]
    m = summary(rec, plain, rec["session_s"] + median(rec["setup_cycles_s"]),
                sum(t["rows"] * t["ok_targets"] for t in timed) / rec["loop_s"],
                attempted, failed)
    if not trace:
        return m, attempted, failed, mismatches

    rows, traced_s = [], []
    for t in (t for t in timed if t["traced"]):
        tid = t["tick"]
        tick = one(tid, "tick")
        wb = one(tid, "write_batch")
        appends = [(s["start"], s["end"]) for s in by_tick[tid] if s["name"] == "append"]
        a_union = union_ms(appends)
        a_sum = sum(e - s for s, e in appends)
        work = spark_work(rec["jobs"], tick["start"], tick["end"], rec["cores"])
        traced_s.append(dur(tick) / 1000.0)
        rows.append({
            "sources.fetch_ms": dur(one(tid, "fetch")),
            "sources.payload_bytes": t["payload_bytes"],
            "sources.parse_plan_ms": dur(one(tid, "parse_plan")),
            "sink.write_batch_ms": dur(wb),
            "sink.materialize_ms": self_ms((wb["start"], wb["end"]), appends) if wb else 0.0,
            "sink.append_ms": a_union,
            "sink.append_sum_ms": a_sum,
            "sink.append_concurrency": a_sum / a_union if a_union else 0.0,
            "sink.bytes_written": t["bytes"],
            "sink.files_written": t["files"],
            "driver.glue_ms": dur(tick) - dur(one(tid, "fetch"))
            - dur(one(tid, "parse_plan")) - dur(wb),
            "jvm.gc_ms": t["gc_ms"],
            **{"sink." + k: v for k, v in work.items()},
        })
    m.update(per_op(rows, traced_s, plain))
    m["sink.appends_failed"] = sum(
        1 for t in timed for s in by_tick.get(t["tick"], [])
        if s["name"] == "append" and not s["ok"])
    return m, attempted, failed, mismatches


def short(query):
    """q439_snapshot_point_history -> q439"""
    return query.split("_", 1)[0]


def store(rec, oracle, rows_per_pass, trace):
    """Metrics and output check of a store run.

    oracle: query -> (columns, rows) from DuckDB; rows_per_pass: fixture
    rows each pass's queries read, summed over the queries.
    Returns (metrics, attempted, failed, mismatches)."""
    want = {q: fingerprint(*r) for q, r in oracle.items()}
    attempted = failed = mismatches = 0
    for p in rec["passes"]:
        for r in p["queries"]:
            attempted += 1
            if not r["ok"]:
                failed += 1
            elif fingerprint(r["columns"], r["rows"]) != want.get(r["query"]):
                failed += 1
                mismatches += 1

    setup = [p for p in rec["passes"] if p["phase"] == "setup"]
    timed = [p for p in rec["passes"] if p["phase"] == "timed"]
    plain = [p["seconds"] for p in timed if not p["traced"]]
    ok_runs = sum(1 for p in timed for r in p["queries"] if r["ok"])
    m = summary(rec, plain, rec["session_s"] + sum(p["seconds"] for p in setup),
                rows_per_pass / len(timed[0]["queries"]) * ok_runs / rec["loop_s"],
                attempted, failed)
    if not trace:
        return m, attempted, failed, mismatches

    traced = [p for p in timed if p["traced"]]
    rows = []
    for p in traced:
        ps = [s for s in rec["spans"] if s["tick"] == p["pass"]]
        whole = next(s for s in ps if s["name"] == "pass")
        work = spark_work(rec["jobs"], whole["start"], whole["end"], rec["cores"])
        row = {"jvm.gc_ms": p["gc_ms"], **{"sink." + k: v for k, v in work.items()}}
        for s in ps:
            if s["name"] == "query":
                w = spark_work(rec["jobs"], s["start"], s["end"], rec["cores"])
                q = "sink." + short(s["label"]) + "."
                row.update({
                    q + "wall_ms": s["end"] - s["start"], q + "jobs": w["jobs"],
                    q + "tasks": w["tasks"], q + "job_busy_ms": w["job_busy_ms"],
                    q + "driver_gap_ms": w["driver_gap_ms"],
                    q + "input_bytes": w["input_bytes"],
                    q + "output_bytes": w["output_bytes"]})
        rows.append(row)
    m.update(per_op(rows, [p["seconds"] for p in traced], plain))
    return m, attempted, failed, mismatches
