"""Metrics, output checks and per-layer self times of one benchmark run.

Everything here is a pure function of the raw record the JVM side writes, so
the rules are unit-tested in test_analysis.py.
"""
import math
import statistics
from datetime import datetime

# Percentiles tried, highest first, for a distribution's tail.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10

LAYERS = ("sources", "streaming", "tasks", "operators")


# ---------------------------------------------------------------- percentiles

def percentile(values, q):
    """Percentile by linear interpolation between the closest ranks (the
    default of numpy): the engine reports batch times in whole milliseconds,
    and interpolation keeps ties from reading the same on every run."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    h = (len(s) - 1) * q / 100.0
    lo = math.floor(h)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (h - lo) * (s[hi] - s[lo])


def beyond(n, q):
    """Samples ranked above the q-th percentile's interpolation point."""
    return n - 1 - math.floor((n - 1) * q / 100.0)


def tail_percentile(values, ladder=TAIL_LADDER, min_beyond=MIN_BEYOND):
    """The highest percentile of `ladder` with at least `min_beyond` samples
    beyond it, as (q, value); (None, max) when even the lowest has fewer."""
    n = len(values)
    for q in ladder:
        if beyond(n, q) >= min_beyond:
            return q, percentile(values, q)
    return None, max(values)


# ---------------------------------------------------------------- self time

def _union_length(intervals):
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans, root):
    """Attribute every instant of `root`'s interval to exactly one span.

    `spans` maps key -> dict(start, end, parent); `root` is a key. An instant
    not covered by any child of a span is that span's self time; an instant
    covered by k children is split equally among them (parallel tasks share
    the wall clock), and each child splits its share the same way. Children
    are clipped to their parent. The self times therefore sum to the root's
    duration; for children that do not overlap, a span's self time is its
    duration minus the union of its children. Returns key -> self time."""
    children = {}
    for k, s in spans.items():
        if k != root and s["parent"] is not None:
            children.setdefault(s["parent"], []).append(k)
    out = {k: 0.0 for k in spans}
    # work list of (key, [(t0, t1, weight)]) segments of the key's share
    r = spans[root]
    todo = [(root, [(r["start"], r["end"], 1.0)])]
    while todo:
        key, segs = todo.pop()
        kids = [(max(spans[c]["start"], spans[key]["start"]),
                 min(spans[c]["end"], spans[key]["end"]), c) for c in children.get(key, ())]
        kids = [(s, e, c) for s, e, c in kids if e > s]
        if not kids:
            out[key] += sum((t1 - t0) * w for t0, t1, w in segs)
            continue
        cuts = sorted({t for s, e, _ in kids for t in (s, e)})
        share = {c: [] for _, _, c in kids}
        for t0, t1, w in segs:
            points = [t0] + [t for t in cuts if t0 < t < t1] + [t1]
            for a, b in zip(points, points[1:]):
                active = [c for s, e, c in kids if s <= a and e >= b]
                if active:
                    for c in active:
                        share[c].append((a, b, w / len(active)))
                else:
                    out[key] += (b - a) * w
        for c, cs in share.items():
            if cs:
                todo.append((c, cs))
    return out


def resolve_parents(rows, root_start, root_end):
    """Build the span tree from the raw rows [key, name, layer, start, end,
    parent, batch]. A missing or empty parent is resolved to the smallest
    batch, phase or benchmark span (of the same batch, when the span carries
    a batch id) that contains the span's start and midpoint; failing that,
    the workload root."""
    spans = {"workload": dict(name="workload", layer="uncovered", start=root_start,
                              end=root_end, parent=None, batch=-1)}
    anon = 0
    for key, name, layer, start, end, parent, batch in rows:
        if not key:
            anon += 1
            key = "anon:%d" % anon
        spans[key] = dict(name=name, layer=layer, start=start, end=max(start, end),
                          parent=parent or None, batch=batch)
    containers = [k for k in spans
                  if k.startswith("batch:") or k.startswith("phase:") or k.startswith("anon:")]
    tol = 1.0  # listener stamps are whole milliseconds
    for k, s in spans.items():
        if k == "workload" or s["parent"] in spans:
            continue
        s["parent"] = "workload"
        mid = (s["start"] + s["end"]) / 2
        rank = (s["end"] - s["start"], k)
        best = None
        for c in containers:
            cs = spans[c]
            if s["batch"] >= 0 and cs["batch"] >= 0 and cs["batch"] != s["batch"]:
                continue  # a job tagged with its batch id stays in that batch
            # only a span that ranks above this one by (length, key) may
            # contain it, so two equal intervals cannot parent each other
            crank = (cs["end"] - cs["start"], c)
            if (crank > rank and cs["start"] - tol <= s["start"] and mid <= cs["end"] + tol
                    and (best is None or crank < best)):
                best = crank
        if best is not None:
            s["parent"] = best[1]
    return spans


def layer_self_times(rows, root_start, root_end):
    """Per-layer self time (ms) of one traced timed phase; `uncovered` is the
    part of the wall time no layer span covers."""
    spans = resolve_parents(rows, root_start, root_end)
    st = self_times(spans, "workload")
    per = {layer: 0.0 for layer in LAYERS + ("uncovered",)}
    for k, v in st.items():
        per[spans[k]["layer"]] = per.get(spans[k]["layer"], 0.0) + v
    return per, spans


# ---------------------------------------------------------------- checks

def check_exactly_once(expected_count, ids):
    """Every id 0..expected_count-1 seen exactly once. Returns
    (missing, duplicated, unexpected) counts."""
    seen = {}
    for i in ids:
        seen[i] = seen.get(i, 0) + 1
    missing = sum(1 for i in range(expected_count) if i not in seen)
    duplicated = sum(c - 1 for i, c in seen.items() if 0 <= i < expected_count and c > 1)
    unexpected = sum(c for i, c in seen.items() if not 0 <= i < expected_count)
    return missing, duplicated, unexpected


def check_windows(expected, emitted, watermark_ms, window_ms):
    """Window counts against the generator's tally. Every window the final
    watermark closed must be emitted once with its exact count; no other
    window may be emitted. Returns the number of events missing, extra or
    miscounted (0 when correct) and a list of problems."""
    tally = {int(w): int(n) for w, n in expected}
    got = {}
    problems = []
    bad = 0
    for w, n in emitted:
        w, n = int(w), int(n)
        if w in got:
            problems.append("window %d emitted twice" % w)
            bad += n
            continue
        got[w] = n
    for w, n in got.items():
        if w + window_ms > watermark_ms:
            problems.append("window %d emitted before the watermark closed it" % w)
            bad += n
        elif tally.get(w, 0) != n:
            problems.append("window %d: %d events, expected %d" % (w, n, tally.get(w, 0)))
            bad += abs(tally.get(w, 0) - n)
    for w, n in tally.items():
        if w + window_ms <= watermark_ms and w not in got:
            problems.append("window %d (%d events) never emitted" % (w, n))
            bad += n
    return bad, problems


def check_survivors(survivors, reference):
    """Stream survivors against the batch reference: (missing, duplicated,
    extra) document counts."""
    ref = set(reference)
    counts = {}
    for d in survivors:
        counts[d] = counts.get(d, 0) + 1
    missing = len(ref - set(counts))
    duplicated = sum(c - 1 for c in counts.values() if c > 1)
    extra = len(set(counts) - ref)
    return missing, duplicated, extra


def check_planted(survivors, novel, low_quality):
    """What the generator planted: every novel document survives and no
    document that fails the quality rules does. Returns (novel missing,
    low-quality kept) counts. Paraphrases are not judged here: whether one
    near the index's threshold drops is the batch reference's call."""
    kept = set(survivors)
    return len(set(novel) - kept), len(set(low_quality) & kept)


# ---------------------------------------------------------------- metrics

def _iso_ms(s):
    return datetime.strptime(s.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp() * 1000


def data_batches(phase):
    return [b for b in phase["batches"] if b["rows"] > 0]


def steady_batches(phase):
    """The data batches after the query's first. The first carries the
    query's start-up (on `ingest` its epoch takes ~1.5x the others), so it
    is one sample per run of another distribution: it counts in
    `events_per_s` and is reported as `streaming.first_batch_ms`, but left
    out of the batch-time percentiles."""
    bs = data_batches(phase)
    if not bs:
        return bs
    first = min(b["batch"] for b in bs)
    return [b for b in bs if b["batch"] != first]


def first_batch_ms(phase):
    bs = data_batches(phase)
    return float(min(bs, key=lambda b: b["batch"])["durations"]["triggerExecution"]) if bs else 0.0


def verify(workload, phase):
    """(failed, attempted, problems) of one timed phase's output check."""
    attempted = int(phase["attempted"])
    if phase.get("failure"):
        return attempted, attempted, ["query failed: " + phase["failure"]]
    failed, problems = 0, []
    failed_tasks = phase["tasks"]["failed"] + phase["tasks"]["failed_jobs"]
    if failed_tasks:
        problems.append("%d failed tasks or jobs" % failed_tasks)
        failed += failed_tasks
    c = phase["check"]
    if c["kind"] == "exactly_once":
        m, d, u = check_exactly_once(c["expected_count"], c["ids"])
        if m or d or u:
            problems.append("%d missing, %d duplicated, %d unexpected events" % (m, d, u))
        failed += m + d + u
    elif c["kind"] == "windows":
        batches = phase["batches"]
        wm = _iso_ms(batches[-1]["watermark"]) if batches and batches[-1]["watermark"] else 0
        bad, probs = check_windows(c["expected"], c["emitted"], wm, c["window_ms"])
        dropped = sum(b["dropped_by_watermark"] for b in batches)
        if dropped:
            probs.append("%d rows dropped by the watermark" % dropped)
        failed += bad + dropped
        problems += probs
    elif c["kind"] == "survivors":
        m, d, x = check_survivors(c["survivors"], c["reference"])
        if m or d or x:
            problems.append("against the batch reference: %d missing, %d duplicated, %d extra"
                            % (m, d, x))
            failed += m + d + x
        m, k = check_planted(c["survivors"], c["planted_novel"], c["planted_low_quality"])
        if m or k:
            problems.append("%d novel documents dropped, %d low-quality documents kept" % (m, k))
            failed += m + k
    else:
        raise ValueError("unknown check " + c["kind"])
    return failed, attempted, problems


def events_per_s(workload, phase):
    """Events processed per second of the timed phase; on `tail` the phase
    runs from the first due time to the last event visible."""
    wall = phase["phase_ms"] if workload == "tail" else phase["wall_ms"]
    return phase["attempted"] / (wall / 1000.0)


def least_stolen(phases):
    """The untraced timed phase the timings come from: the one during which
    the hypervisor took the least of the host's CPU time (the first on a
    tie, and the first where steal is not measured)."""
    return min(phases, key=lambda p: p.get("steal_share") or 0.0)


def end_to_end(workload, raw):
    """The end-to-end metrics of the untraced phases: name -> (value, unit,
    note). Timings come from the least-stolen phase; the retained heap from
    the first, since every further query run in the JVM adds to it."""
    phase = least_stolen(raw["untraced"])
    batches = [b["durations"]["triggerExecution"] for b in steady_batches(phase)]
    q, hi = tail_percentile(batches)
    m = {
        "setup_s": (statistics.median(raw["setup_s"]), "s",
                    "median of %d set-ups" % len(raw["setup_s"])),
        "events_per_s": (events_per_s(workload, phase), "1/s",
                         "%d events" % phase["attempted"]),
        "batch_ms_p50": (percentile(batches, 50), "ms",
                         "n=%d batches after the first" % len(batches)),
        "batch_ms_tail": (hi, "ms", "%s of n=%d batches after the first (highest percentile"
                          " with >=%d beyond)"
                          % ("p%g" % q if q else "max", len(batches), MIN_BEYOND)),
        "heap_retained_mb": (raw["untraced"][0]["heap_mb"], "MiB",
                             "after GC, end of the first timed phase"),
    }
    if workload == "tail":
        # due time (generator) to visible in the output log (poller); the
        # closed loops have no due time of their own, so no latency
        lat = [u / 1000.0 for u in phase["latency_us"]]
        lq, lhi = tail_percentile(lat, ladder=(99.0,))
        m["latency_ms_p50"] = (percentile(lat, 50), "ms", "n=%d events" % len(lat))
        m["latency_ms_p99"] = (lhi, "ms", "n=%d events%s" % (
            len(lat), "" if lq else ", fewer than %d beyond p99: max" % MIN_BEYOND))
    return m


def _sum(batches, key):
    return float(sum(b["durations"].get(key, 0) for b in batches))


def outside_jobs_ms(phase):
    """Batch wall time not covered by any of the batch's Spark jobs."""
    by_batch = {}
    for b, s, e in phase["job_intervals"]:
        by_batch.setdefault(int(b), []).append((s, e))
    total = 0.0
    for b in phase["batches"]:
        t0 = b["start_ms"]
        t1 = t0 + b["durations"]["triggerExecution"]
        jobs = [(max(s, t0), min(e, t1)) for s, e in by_batch.get(int(b["batch"]), [])]
        total += (t1 - t0) - _union_length([(s, e) for s, e in jobs if e > s])
    return total


def stage_skew(phase):
    """Median over stages (with >= 2 tasks) of max / median task run time."""
    ratios = []
    for times in phase["tasks"]["stage_task_ms"]:
        med = statistics.median(times)
        if med > 0:
            ratios.append(max(times) / med)
    return statistics.median(ratios) if ratios else 1.0


def per_layer(workload, raw):
    """Per-layer metrics of the traced phase: name -> (value, unit)."""
    ph = raw["traced"]
    bs = ph["batches"]
    client = ph.get("client", {})
    served = client.get("receive_events", 0)
    t = ph["tasks"]
    c = ph["check"]
    layers, _ = layer_self_times(ph["spans"], ph["start_ms"], ph["end_ms"])
    docs_in = c.get("docs_in", 0)
    kept = len(set(c.get("survivors", [])))
    speedup = 0.0
    if "single_core" in raw:
        speedup = events_per_s(workload, least_stolen(raw["untraced"])) / events_per_s(
            workload, raw["single_core"])
    m = {
        "sources.receive_calls": (client.get("receive_calls", 0), "count"),
        "sources.receive_events": (served, "count"),
        "sources.receive_ms": (client.get("receive_ms", 0.0), "ms"),
        "sources.decoded_records": (ph["decoded_records"], "count"),
        "sources.decode_amplification": (ph["decoded_records"] / served if served else 0.0,
                                         "ratio"),
        "sources.latest_offset_ms": (_sum(bs, "latestOffset"), "ms"),
        "sources.backlog_max_events": (max([b["backlog"] for b in bs] or [0]), "count"),
        "streaming.batches": (len(bs), "count"),
        "streaming.first_batch_ms": (first_batch_ms(ph), "ms"),
        "streaming.planning_ms": (_sum(bs, "queryPlanning"), "ms"),
        "streaming.wal_ms": (_sum(bs, "walCommit"), "ms"),
        "streaming.commit_ms": (_sum(bs, "commitOffsets"), "ms"),
        "streaming.state_commit_ms": (float(sum(b["state_commit_ms"] for b in bs)), "ms"),
        "streaming.state_rows": (max([b["state_rows"] for b in bs] or [0]), "count"),
        "streaming.state_bytes": (max([b["state_bytes"] for b in bs] or [0]), "bytes"),
        "streaming.outside_jobs_ms": (outside_jobs_ms(ph), "ms"),
        "tasks.count": (t["count"], "count"),
        "tasks.run_ms": (t["run_ms"], "ms"),
        "tasks.cpu_ms": (t["cpu_ms"], "ms"),
        "tasks.gc_ms": (t["gc_ms"], "ms"),
        "tasks.jobs": (t["jobs"], "count"),
        "tasks.stages": (t["stages"], "count"),
        "tasks.shuffle_bytes": (t["shuffle_bytes"], "bytes"),
        "tasks.stage_skew": (stage_skew(ph), "ratio"),
        "operators.epoch_ms": (_sum(bs, "addBatch") if workload == "ingest" else 0.0, "ms"),
        "operators.survivor_write_ms": (ph.get("survivor_write_ms", 0), "ms"),
        "operators.docs_in": (docs_in, "count"),
        "operators.docs_kept": (kept, "count"),
        "operators.keep_ratio": (kept / docs_in if docs_in else 0.0, "ratio"),
        "operators.quality_pass_ratio": (c.get("quality_passed", 0) / docs_in if docs_in else 0.0,
                                         "ratio"),
        "operators.index_partitions": (c.get("index_partitions", 0), "count"),
        "bench.trace_overhead": (events_per_s(workload, ph)
                                 / events_per_s(workload, least_stolen(raw["untraced"])),
                                 "ratio"),
        "scaling.replay_speedup": (speedup, "ratio"),
        "self.wall_ms": (ph["end_ms"] - ph["start_ms"], "ms"),
    }
    for layer, v in layers.items():
        m["self.%s_ms" % layer] = (v, "ms")
    if workload == "tail":
        m["sources.sink_ms"] = (_sum(bs, "addBatch"), "ms")
        m["sources.sink_events"] = (ph["sink_events"], "count")
        m["bench.gen_late_ms_p99"] = (percentile(ph["gen_late_us"], 99) / 1000.0, "ms")
    return m


def summarize(workload, raw, traced):
    """(result line, report) of one run. The result carries the end-to-end
    metrics, or with tracing the per-layer ones; the report carries both
    plus the checks' problems."""
    # every phase is checked, including those re-run for steal
    phases = [("untraced#%d" % k, ph) for k, ph in enumerate(raw["untraced"], 1)]
    if traced:
        phases.append(("traced", raw["traced"]))
        if "single_core" in raw:
            phases.append(("single_core", raw["single_core"]))
    failed = attempted = 0
    problems = []
    for label, ph in phases:
        f, a, p = verify(workload, ph)
        failed += f
        attempted += a
        problems += ["%s: %s" % (label, x) for x in p]
    e2e = end_to_end(workload, raw)
    layer = per_layer(workload, raw) if traced else {}
    chosen = layer if traced else {k: (v[0], v[1]) for k, v in e2e.items()}
    result = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v[0]), "unit": v[1]} for k, v in chosen.items()},
    }
    report = {"workload": workload, "problems": problems,
              "failed_ratio": (failed / attempted if attempted else 0.0, attempted),
              "end_to_end": e2e, "per_layer": layer, "conditions": raw["conditions"],
              "warmup_s": raw.get("warmup_s"),
              "steal_share": [ph.get("steal_share") for ph in raw["untraced"]],
              "timings_from": raw["untraced"].index(least_stolen(raw["untraced"])) + 1}
    return result, report


def report_lines(report):
    lines = ["# workload %s" % report["workload"]]
    c = report["conditions"]
    lines.append("# conditions: %s" % ", ".join(
        "%s=%s" % (k, c.get(k)) for k in ("nproc", "master", "max_heap_mb", "jdk", "spark",
                                          "git_head", "source_digest", "seed", "seconds")))
    steal = report["steal_share"]
    if steal[0] is not None:
        lines.append("# hypervisor steal per untraced timed phase: %s of host CPU time;"
                     " timings from phase %d" % (", ".join("%.1f%%" % (100 * x) for x in steal),
                                                 report["timings_from"]))
    fr, base = report["failed_ratio"]
    lines.append("failed_ratio %.6g (of %d attempted)" % (fr, base))
    for p in report["problems"]:
        lines.append("CHECK FAILED %s" % p)
    for k, (v, unit, note) in report["end_to_end"].items():
        lines.append("%-24s %14.4f %-6s %s" % (k, v, unit, note))
    if report["per_layer"]:
        for k, (v, unit) in report["per_layer"].items():
            lines.append("%-32s %14.4f %s" % (k, v, unit))
        pl = report["per_layer"]
        wall = pl["self.wall_ms"][0]
        lines.append("# self time of the traced phase by layer (sums to its wall time)")
        for layer in LAYERS + ("uncovered",):
            v = pl["self.%s_ms" % layer][0]
            lines.append("#   %-10s %10.1f ms %5.1f%%" % (layer, v, 100 * v / wall if wall else 0))
    return lines
