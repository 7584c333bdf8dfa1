"""Interval arithmetic and the span tree of a traced run.

Kept free of Spark and I/O so `test_layers.py` can check it directly.
"""


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` (pairs of start, end), each
    clipped to [lo, hi] when given. Overlapping and nested intervals count
    once, so the result never exceeds the span they sit in."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(wall_start, wall_end, job_intervals):
    """Wall time in which no Spark job ran: wall minus the union of job
    intervals. Never negative, however much the jobs overlap."""
    return (wall_end - wall_start) - union_length(
        job_intervals, wall_start, wall_end)


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "children")

    def __init__(self, sid, name, start, end, parent=None):
        self.id, self.name, self.start, self.end = sid, name, start, end
        self.parent = parent
        self.children = []

    @property
    def duration(self):
        return self.end - self.start

    @property
    def self_time(self):
        """Duration minus the part of it that child spans cover."""
        return self.duration - union_length(
            [(c.start, c.end) for c in self.children], self.start, self.end)

    def contains(self, start, end):
        return self.start <= start and end <= self.end


class SpanTree:
    """Spans keyed by id; a span's id is its path, e.g.
    `warm2/q_hits/exec`, and its parent is the path without the last part."""

    def __init__(self):
        self.spans = {}

    def add(self, sid, name, start, end, parent_id=None):
        parent = self.spans.get(parent_id) if parent_id else None
        span = Span(sid, name, start, end, parent)
        self.spans[sid] = span
        if parent:
            parent.children.append(span)
        return span

    def deepest_containing(self, start, end, root):
        """The deepest span under `root` whose interval holds [start, end]."""
        best = root
        while True:
            nxt = next((c for c in best.children
                        if c.contains(start, end)), None)
            if nxt is None:
                return best
            best = nxt

    def attach_job(self, jid, start, end, tag, root):
        """Parent a Spark job by the span tag it carried; a job without a
        known tag goes under the deepest span whose interval holds it."""
        parent = self.spans.get(tag) if tag else None
        if parent is None:
            parent = self.deepest_containing(start, end, root)
        return self.add(f"job{jid}", f"job {jid}", start, end, parent.id)

    def to_json(self):
        return [{"id": s.id, "name": s.name,
                 "parent": s.parent.id if s.parent else None,
                 "start": s.start, "end": s.end,
                 "duration_s": s.duration, "self_s": s.self_time}
                for s in self.spans.values()]
