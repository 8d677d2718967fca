"""Arithmetic of the benchmark's metrics: the tail-percentile rule, span
self time and the per-layer table. Pure functions over the harness's
result file, so the tests can check them without Spark."""
import statistics

LAYERS = ["operators", "llm", "sources", "compact", "streaming", "plans"]
COMMON = ["ops", "fail", "construct_s", "plan_s", "exec_s", "jobs", "stages",
          "tasks", "task_s", "task_wait_s", "slot_util", "skew",
          "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s"]
EXTRAS = ["core.drain_s", "llm.candidate_pairs", "llm.lsh_precision",
          "sources.commits", "sources.versions", "sources.data_mb_written",
          "sources.log_mb", "sources.live_files", "sources.skip_ratio",
          "compact.files_in", "compact.files_out", "compact.list_s",
          "streaming.batches", "streaming.trigger_s", "streaming.add_batch_s",
          "streaming.wal_s", "streaming.rows_per_s"]
TRACE = ["trace.overhead_s", "trace.span_coverage"]
COUNTER_KEYS = ["jobs", "stages", "tasks", "task_s", "task_wait_s",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s"]


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Nearest rank: the sample at 1-based rank r has n - r samples after
    it, so r = n - beyond. Returns (value, percentile, n). With `beyond`
    or fewer samples no percentile qualifies; the maximum is returned
    and the percentile reads 100.
    """
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return xs[-1], 100.0, n
    r = n - beyond
    return xs[r - 1], 100.0 * r / n, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def self_times(spans):
    """Self time of each span: its duration minus the part of it that
    its children cover (children clipped to the parent's interval)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        covered = union_length([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_table(spans):
    """Seconds of self time per layer and span kind."""
    st = self_times(spans)
    table = {}
    for s in spans:
        row = table.setdefault(s["layer"], {})
        row[s["kind"]] = row.get(s["kind"], 0.0) + st[s["id"]] / 1e3
    return table


def per_layer(result, cores):
    """Every per-layer metric, from the traced passes of one run.

    Sums are per traced pass. `slot_util` divides executor task time by
    the layer's whole operation time (construct + plan + exec) times the
    cores, since several layers do their work in the construct step."""
    traced = [p for p in result["passes"] if p["traced"]]
    n = len(traced)
    counters = {c["seq"]: c for c in result["op_counters"]}
    m = {}
    for layer in LAYERS:
        recs = [r for p in traced for r in p["ops"] if r["layer"] == layer]
        cs = [counters[r["seq"]] for r in recs if r["seq"] in counters]
        v = {"ops": len(recs), "fail": sum(not r["ok"] for r in recs)}
        for k in ("construct_s", "plan_s", "exec_s"):
            v[k] = sum(r[k] for r in recs)
        for k in COUNTER_KEYS:
            v[k] = sum(c[k] for c in cs)
        busy = v["construct_s"] + v["plan_s"] + v["exec_s"]
        v["slot_util"] = v["task_s"] / (busy * cores) if busy > 0 else 0.0
        shapes = [s for c in cs for s in c["stages_shape"]]
        longest = max(shapes, key=lambda s: s[0]) if shapes else None
        v["skew"] = (longest[1] / longest[2]
                     if longest and longest[2] > 0 else 0.0)
        for k in COMMON:
            m[f"{layer}.{k}"] = v[k] if k in ("slot_util", "skew") else v[k] / n
    allrecs = [r for p in traced for r in p["ops"]]
    m["core.drain_s"] = sum(r["drain_s"] for r in allrecs) / n
    rows = {r["name"]: r["rows"] for r in result["check_pass"]["ops"]}
    cand = rows.get("llm_dedup_fuzzy", 0)
    m["llm.candidate_pairs"] = cand
    m["llm.lsh_precision"] = (rows.get("llm_dedup_jaccard", 0) / cand
                              if cand > 0 else 0.0)

    def counter(k):
        return statistics.mean(p["counters"].get(k, 0.0) for p in traced)
    lake = result["workload"] == "lakehouse_rw"
    for k in ("sources.commits", "sources.versions", "sources.log_mb",
              "sources.live_files", "sources.skip_ratio", "compact.files_in",
              "compact.files_out", "compact.list_s"):
        m[k] = counter(k)
    m["sources.data_mb_written"] = (statistics.mean(
        p["fs_bytes_written"] for p in traced) / 1e6 if lake else 0.0)
    batches = [b for c in counters.values() for b in c["batches"]
               if c["seq"] in {r["seq"] for r in allrecs}]
    trig = sum(b[0] for b in batches) / 1e3
    m["streaming.batches"] = len(batches) / n
    m["streaming.trigger_s"] = trig / n
    m["streaming.add_batch_s"] = sum(b[1] for b in batches) / 1e3 / n
    m["streaming.wal_s"] = sum(b[2] for b in batches) / 1e3 / n
    m["streaming.rows_per_s"] = (sum(b[3] for b in batches) / trig
                                 if trig > 0 else 0.0)
    plain = [p["pass_s"] for p in result["passes"] if not p["traced"]]
    m["trace.overhead_s"] = (statistics.median(p["pass_s"] for p in traced)
                             - statistics.median(plain))
    m["trace.span_coverage"] = statistics.median(
        sum(r["construct_s"] + r["plan_s"] + r["exec_s"] + r["drain_s"]
            for r in p["ops"]) / p["pass_s"] for p in traced)
    return m
