"""Benchmark arithmetic: percentiles, span self time, action-to-span
attribution, and the end-to-end and per-layer metrics computed from the
harness records (one JSON record per JVM, written by perfbench.Harness).
"""
import math
import statistics

# Write paths of the stream's observability channels (CdcStream's emits).
CHANNEL_DIRS = ("/_metrics/", "/_qc/", "/_lineage/")


def pct(values, q):
    """Nearest-rank percentile: the smallest value with at least q% of the
    samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    return s[max(1, math.ceil(q / 100.0 * len(s))) - 1]


def beyond(n, q):
    """How many of n samples lie above the nearest-rank q-th percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail_pct(n, min_beyond=10, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least `min_beyond` samples
    beyond it, or None when even the median has fewer."""
    for q in candidates:
        if beyond(n, q) >= min_beyond:
            return q
    return None


def median(values):
    return statistics.median(values) if values else 0.0


def covered(t0, t1, intervals):
    """Length of [t0, t1] covered by the union of `intervals`."""
    clipped = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
    total, end = 0.0, t0
    for a, b in clipped:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover (ms)."""
    return (span["t1"] - span["t0"]) - covered(
        span["t0"], span["t1"], [(c["t0"], c["t1"]) for c in children])


def attribute(items, spans, tol_ms=2.0):
    """Map each item (action or stage with t0/t1 in ms) to the innermost
    span whose interval contains it, within `tol_ms` for the millisecond
    resolution of Spark's event times. Returns a list of span ids (None
    when no span contains the item)."""
    out = []
    for it in items:
        best = None
        for s in spans:
            if s["t0"] - tol_ms <= it["t0"] and it["t1"] <= s["t1"] + tol_ms:
                if best is None or (s["t1"] - s["t0"]) < (best["t1"] - best["t0"]):
                    best = s
        out.append(None if best is None else best["id"])
    return out


def scaling_eff(eps_n, eps_1, cores):
    """Throughput at `cores` over `cores` times the single-core throughput."""
    return eps_n / (cores * eps_1) if eps_1 > 0 else 0.0


def write_amp(data_bytes, input_bytes):
    """Bytes under the table's data/ over bytes of input change-log."""
    return data_bytes / input_bytes if input_bytes > 0 else 0.0


def action_kind(a):
    path = a.get("path") or ""
    if path:
        if any(d in path + "/" for d in CHANNEL_DIRS):
            return "channel"
        if "/data/" in path + "/":
            return "merge_write"
        return "other_write"
    return "collect" if a.get("func") == "collect" else a.get("func", "?")


# ---- end-to-end -------------------------------------------------------------

def timed_epochs(rec, traced):
    return [e for r in rec["rounds"] if r["traced"] == traced for e in r["epochs"]]



def throughput(epochs):
    wall = sum(e["wall_s"] for e in epochs)
    return sum(e["events"] for e in epochs) / wall if wall > 0 else 0.0


def setup_parts(rec):
    spans = {s["name"]: s for s in rec["spans"]}
    sess = spans["setup.session"]
    parts = {"session": (sess["t1"] - rec["jvm_start_ms"]) / 1000.0,
             "gen": 0.0, "warm": 0.0}
    for k in ("gen", "warm"):
        s = spans.get("setup." + k)
        if s:
            parts[k] = (s["t1"] - s["t0"]) / 1000.0
    return parts


def end_to_end(main):
    """Metrics a user sees, from the untraced rounds of the local[4] side."""
    ep = timed_epochs(main, traced=False)
    t = main["table"]
    return {
        "events_per_s": throughput(ep),
        "epoch_s_p50": median([e["wall_s"] for e in ep]),
        "write_amp": write_amp(t["data_bytes"], t["input_bytes"]),
        "setup_s": sum(setup_parts(main).values()),
    }


def error_rate(recs):
    """Failed over attempted operations, across every JVM of a run."""
    attempted = sum(r["attempted"] for r in recs)
    return sum(r["failed"] for r in recs) / attempted if attempted else 1.0


def reads_metrics(rd):
    """End-to-end read-mix numbers from a record's `reads` section."""
    pts = rd["point_read_ms"]
    q = tail_pct(len(pts))
    out = {
        "point_read_ms_p50": pct(pts, 50),
        "range_read_s_p50": median(rd["range_read_s"]),
        "changes_since_s": median(rd["changes_since_s"]),
        "scan_rows_per_s": rd["scan_rows"] / median(rd["scan_s"]),
        "compact_s": rd["compact_s"],
        "point_reads": len(pts),
    }
    if q is not None and q > 50:
        out["point_read_ms_p%d" % q] = pct(pts, q)
    return out


# ---- per-layer ----------------------------------------------------------------

class Trace:
    """Actions and stages of one traced record, attributed to its spans."""

    def __init__(self, rec):
        self.rec = rec
        self.spans = rec["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        acts = rec.get("actions", [])
        # An execution that encloses nested ones (a streaming micro-batch
        # around its foreachBatch body) is not itself an action.
        outer = {a["root"] for a in acts if a["root"] not in (-1, a["exec"])}
        self.actions = [a for a in acts if a["exec"] not in outer]
        owner = attribute(self.actions, self.spans)
        for a, o in zip(self.actions, owner):
            a["span"] = o
            a["kind"] = action_kind(a)
        self.stages_by_exec = {}
        for st in rec.get("stages", []):
            self.stages_by_exec.setdefault(st["exec"], []).append(st)

    def within(self, span_id):
        """Actions whose owning span is `span_id` or one of its descendants."""
        ids = {span_id}
        changed = True
        while changed:
            new = {s["id"] for s in self.spans if s["parent"] in ids} - ids
            changed = bool(new)
            ids |= new
        return [a for a in self.actions if a["span"] in ids]

    def stages(self, actions):
        return [st for a in actions for st in self.stages_by_exec.get(a["exec"], [])]

    def traced_rounds(self):
        return [s for s in self.spans if s["name"] == "round" and s.get("traced")]

    def epoch_spans(self):
        rounds = {s["id"] for s in self.traced_rounds()}

        def in_round(s):
            p = s["parent"]
            while p is not None and p >= 0:
                if p in rounds:
                    return True
                p = self.by_id[p]["parent"]
            return False
        return [s for s in self.spans
                if s["name"] in ("MergeApply.applyBatch", "CdcStream.trigger") and in_round(s)]

    def epoch_layers(self):
        """Per traced epoch: the layer split of its wall time (seconds)."""
        out = []
        for s in self.epoch_spans():
            acts = self.within(s["id"])
            dur = (s["t1"] - s["t0"]) / 1000.0

            def tot(kind):
                return sum(a["t1"] - a["t0"] for a in acts if a["kind"] == kind) / 1000.0
            write = [a for a in acts if a["kind"] == "merge_write"]
            wst = self.stages(write)
            out_stages = [st for st in wst if st["output_bytes"] > 0 and st["task_ms_median"] > 0]
            d = s.get("duration_ms") or {}
            channels = tot("channel")
            out.append({
                "wall_s": dur,
                # a trigger's addBatch is the foreachBatch body: the apply
                # plus the channel emits
                "apply_s": d["addBatch"] / 1000.0 - channels if "addBatch" in d else dur,
                "head_agg_s": tot("collect"),
                "merge_write_s": tot("merge_write"),
                "channels_s": channels,
                "driver_s": self_time(s, acts) / 1000.0,
                "shuffle_bytes": sum(st["shuffle_write_bytes"] for st in wst),
                "spill_bytes": sum(st["spill_bytes"] for st in wst),
                "task_skew": max((st["task_ms_max"] / st["task_ms_median"] for st in out_stages),
                                 default=0.0),
                "add_batch_s": d.get("addBatch", 0) / 1000.0,
                "offset_s": sum(d.get(k, 0) for k in
                                ("latestOffset", "getBatch", "walCommit", "commitOffsets")) / 1000.0,
            })
        return out

    def op_stats(self, name):
        """Per read/maintenance op of span `name`: (input, shuffle, output) bytes."""
        res = []
        for s in self.spans:
            if s["name"] == name:
                sts = self.stages(self.within(s["id"]))
                res.append((sum(st["input_bytes"] for st in sts),
                            sum(st["shuffle_write_bytes"] for st in sts),
                            sum(st["output_bytes"] for st in sts)))
        return res

    def runtime(self, cores):
        rounds = self.traced_rounds()
        wall = sum(r["t1"] - r["t0"] for r in rounds) / 1000.0
        sts = [st for st in self.rec.get("stages", [])
               if any(r["t0"] - 2 <= st["t1"] <= r["t1"] + 2 for r in rounds)]
        cpu = sum(st["cpu_ns"] for st in sts) / 1e9
        run = sum(st["run_ms"] for st in sts) / 1000.0
        n = max(1, len(rounds))
        return {"spark.executor_cpu_s": cpu / n,
                "spark.core_util": run / (wall * cores) if wall > 0 else 0.0}


def per_layer(main, one=None, cores=4):
    """Per-layer metrics of a traced run. Every workload reports every
    metric; it reads 0 where the layer is absent (no stream on
    wide_mor_reads, no local[1] side off hot_stream). The stream's times are
    reported as shares of the trigger, so that no time reads a constant 0;
    `detail` carries the times themselves for the trace file. Returns
    (metrics, detail)."""
    tr = Trace(main)
    layers = tr.epoch_layers()

    def med(k, rows=layers):
        return median([r[k] for r in rows])
    t = main["table"]
    ep_untraced = timed_epochs(main, traced=False)
    ep_traced = timed_epochs(main, traced=True)
    eps_u, eps_t = throughput(ep_untraced), throughput(ep_traced)
    all_ep = ep_untraced + ep_traced
    deduped = sum(e["deduped"] for e in all_ep)
    events = sum(e["events"] for e in all_ep)
    stream = any(s["name"] == "CdcStream.trigger" for s in tr.spans)
    m = {
        "MergeApply.apply_s_p50": med("apply_s"),
        "MergeApply.head_agg_s": med("head_agg_s"),
        "MergeApply.merge_write_s": med("merge_write_s"),
        "MergeApply.driver_s": med("driver_s"),
        "MergeApply.shuffle_bytes": med("shuffle_bytes"),
        "MergeApply.spill_bytes": med("spill_bytes"),
        "MergeApply.task_skew": med("task_skew"),
        "MergeApply.dedup_ratio": deduped / events if events else 0.0,
    }
    ef = t.get("epoch_files", [])
    m.update({
        "LakeTable.bytes_written": median([e["bytes"] for e in ef]),
        "LakeTable.files_written": median([e["files"] for e in ef]),
        "LakeTable.rows_rewritten": median([e["rows"] for e in ef]),
        "LakeTable.files_per_bucket": t["files"] / t["buckets"] if t["buckets"] else 0.0,
        "LakeTable.point_files_opened": median(t.get("point_files_opened", [])),
        "LakeTable.manifest_bytes": t.get("manifest_bytes", 0),
    })
    for op, span in (("point", "LakeTable.readKey"), ("range", "LakeTable.readKeyRange"),
                     ("changes", "LakeTable.readChangesSince"), ("scan", "LakeTable.read")):
        st = tr.op_stats(span)
        m["LakeTable.read_bytes." + op] = median([x[0] for x in st])
        m["LakeTable.read_shuffle_bytes." + op] = median([x[1] for x in st])
    m["LakeTable.compact_bytes_rewritten"] = sum(x[2] for x in tr.op_stats("LakeTable.compact"))
    r = reads_metrics(main["reads"]) if main.get("reads") else {}
    for k in ("point_read_ms_p50", "point_read_ms_p90", "range_read_s_p50", "changes_since_s",
              "scan_rows_per_s", "compact_s"):
        m["LakeTable." + k] = r.get(k, 0.0)
    trig = med("wall_s")
    share = (lambda x: x / trig if stream and trig > 0 else 0.0)
    m.update({
        "CdcStream.add_batch_share": share(med("add_batch_s")),
        "CdcStream.offset_share": share(med("offset_s")),
        "CdcStream.channels_share": share(med("channels_s")),
        "CdcStream.overhead_share": median(
            [(r["wall_s"] - r["head_agg_s"] - r["merge_write_s"]) / r["wall_s"]
             for r in layers if r["wall_s"] > 0]),
    })
    m.update(tr.runtime(cores))
    host = main["host"]
    m.update({"jvm.gc_s": host["gc_s"], "jvm.heap_peak_mb": host["heap_peak_mb"],
              "host.steal_share": host["steal_share"], "host.sys_over_user": host["sys_over_user"]})
    sp = setup_parts(main)
    m.update({"setup.session_s": sp["session"], "setup.gen_s": sp["gen"],
              "setup.warm_s": sp["warm"]})
    m["trace.overhead_share"] = 1.0 - eps_t / eps_u if eps_u > 0 else 0.0
    # The scaling pair, per layer: time at 1 core over `cores` times the
    # time at `cores` cores (1.0 = the layer scales perfectly).
    scale = {"events_per_s_1c": 0.0, "scaling_eff": 0.0}
    for k in ("head_agg", "merge_write", "driver", "channels"):
        scale["scaling." + k + "_eff"] = 0.0
    if one is not None:
        lay1 = Trace(one).epoch_layers()
        # both sides traced: the pair compares like with like
        e1 = throughput(timed_epochs(one, traced=True))
        scale["events_per_s_1c"] = e1
        scale["scaling_eff"] = scaling_eff(eps_t, e1, cores)
        for k in ("head_agg", "merge_write", "driver", "channels"):
            n, o = med(k + "_s"), med(k + "_s", lay1)
            scale["scaling." + k + "_eff"] = o / (cores * n) if n > 0 else 0.0
    m.update(scale)
    detail = {
        "CdcStream.trigger_s_p50": trig if stream else 0.0,
        "CdcStream.add_batch_s_p50": med("add_batch_s") if stream else 0.0,
        "CdcStream.offset_s": med("offset_s") if stream else 0.0,
        "CdcStream.channels_s": med("channels_s") if stream else 0.0,
        "traced_epochs": len(layers),
        "untraced_events_per_s": eps_u,
        "traced_events_per_s": eps_t,
    }
    return m, detail
