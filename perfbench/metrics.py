"""Pure metric computations for the benchmark (no I/O), unit-tested in
test_metrics.py: percentiles and the ten-samples-above rule, attribution of
live sends to committed micro-batches, backlog over time, and per-layer self
times from spans."""

MIN_ABOVE = 10


def percentile(values, p):
    """Linear-interpolated p-th percentile (0..100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def above(values, p):
    """How many samples lie strictly above the p-th percentile."""
    cut = percentile(values, p)
    return sum(1 for v in values if v > cut)


def reportable(values, p):
    """A tail percentile is reported only with at least ten samples above it."""
    return len(values) > 0 and above(values, p) >= MIN_ABOVE


def highest_reportable(values, candidates=(99, 95, 90, 75)):
    """The highest candidate percentile that has ten samples above it, or None."""
    for p in candidates:
        if reportable(values, p):
            return p
    return None


def covering_commit(batches, offset):
    """Earliest commit time of a batch whose end offset covers `offset`.

    `batches` is a list of (end_offset, commit_ms). A micro-batch commits
    every offset up to and including its end offset, so the first batch
    with end_offset >= offset is the one that made the send durable.
    Returns None if no batch covers it.
    """
    best = None
    for end, commit in batches:
        if end >= offset and (best is None or commit < best):
            best = commit
    return best


def freshness(sends, sinks):
    """Per send: time from its scheduled send until every sink committed it.

    `sends` is a list of (sched_ms, offset); `sinks` a list of batch lists as
    taken by covering_commit. Returns a list with a value in ms, or None for
    a send some sink never committed.
    """
    out = []
    for sched, offset in sends:
        commits = [covering_commit(b, offset) for b in sinks]
        out.append(None if any(c is None for c in commits) else max(commits) - sched)
    return out


def backlog(sends, sinks, at):
    """Rows sent by time `at` that not every sink has committed by then.

    `sends` is a list of (sent_ms, offset, rows)."""
    committed = min(max((e for e, c in b if c <= at), default=-1) for b in sinks)
    return sum(rows for t, off, rows in sends if t <= at and off > committed)


def backlog_grew(samples, rate_rows_per_s):
    """An open-loop run is invalid if its backlog grew across the run.

    The backlog is a sawtooth (it fills between commits), and the first
    third of a live phase is the queries' transient after the catch-up, so
    the test compares sawtooth peaks: the largest sample of the last third
    against the largest of the middle third. It grew if the former exceeds
    1.5x the latter plus half a second of offered rows."""
    n = len(samples)
    if n < 3:
        return False
    middle = samples[n // 3: n - n // 3]
    last = samples[n - n // 3:]
    return max(last) > 1.5 * max(middle) + 0.5 * rate_rows_per_s


def attach(spans):
    """Give each span with parent -1 (timed by Spark, not the harness) a
    parent: the shortest longer span of the same op that contains its
    midpoint, else the op's root span."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    for group in by_op.values():
        root = next((s["id"] for s in group if s["parent"] == 0), 0)
        for s in group:
            if s["parent"] != -1:
                continue
            mid = (s["start"] + s["end"]) / 2
            dur = s["end"] - s["start"]
            inside = [h for h in group if h is not s and h["start"] <= mid <= h["end"]
                      and (h["end"] - h["start"]) > dur]
            s["parent"] = (min(inside, key=lambda h: h["end"] - h["start"])["id"]
                           if inside else root)
    return spans


def reconcile(spans, layer_of, tolerance_ms=5.0, tolerance_share=0.05):
    """Split each op's wall time over layers by self time.

    Every instant of an op's root span is charged to the deepest span open
    at that instant, so a span's self time is its duration minus the part
    its children cover, and concurrent children are not counted twice.
    Time charged to the root itself is `unaccounted`. Returns a list of
    {op, wall, layers: {layer: ms}, unaccounted, ok}, where the layer times
    plus `unaccounted` sum to `wall`, and `ok` says the unaccounted part is
    within max(tolerance_ms, tolerance_share * wall)."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = []
    for op, group in by_op.items():
        roots = [s for s in group if s["parent"] == 0]
        if len(roots) != 1:
            continue
        root = roots[0]
        ids = {s["id"]: s for s in group}
        depth = {}

        def depth_of(s):
            if s["id"] not in depth:
                p = ids.get(s["parent"])
                depth[s["id"]] = 0 if p is None or p is s else depth_of(p) + 1
            return depth[s["id"]]

        cuts = sorted({root["start"], root["end"]} |
                      {min(max(t, root["start"]), root["end"])
                       for s in group for t in (s["start"], s["end"])})
        layers, unaccounted = {}, 0.0
        for a, b in zip(cuts, cuts[1:]):
            mid = (a + b) / 2
            open_ = [s for s in group if s["start"] <= mid <= s["end"]]
            deepest = max(open_, key=depth_of) if open_ else root
            if deepest is root:
                unaccounted += b - a
            else:
                layer = layer_of(deepest)
                layers[layer] = layers.get(layer, 0.0) + (b - a)
        wall = root["end"] - root["start"]
        out.append({"op": op, "wall": wall, "layers": layers,
                    "unaccounted": unaccounted,
                    "ok": unaccounted <= max(tolerance_ms, tolerance_share * wall)})
    return out
