"""Arithmetic of the benchmark: percentiles, span self time, the sink split.

Everything here is pure Python over plain lists and dicts, so that
``test_metrics.py`` can check it without a JVM.  Times are in seconds unless
a name says otherwise.
"""

import statistics

# A percentile is reported only when at least this many samples lie above it.
MIN_SAMPLES_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile ``p`` (0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    rank = (len(xs) - 1) * p / 100.0
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def reportable_percentile(values, p):
    """The ``p`` percentile, or None unless ten or more samples lie beyond it."""
    if not values:
        return None
    v = percentile(values, p)
    beyond = sum(1 for x in values if x > v)
    return v if beyond >= MIN_SAMPLES_BEYOND else None


def median(values):
    return statistics.median(values)


def union_length(intervals):
    """Total length covered by ``(start, end)`` intervals, overlaps counted once."""
    total = 0.0
    cur_s = cur_e = None
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


def clip(intervals, start, end):
    """The parts of ``intervals`` that fall inside ``[start, end]``."""
    out = []
    for s, e in intervals:
        s, e = max(s, start), min(e, end)
        if e > s:
            out.append((s, e))
    return out


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span["start"], span["end"]
    covered = union_length(clip([(c["start"], c["end"]) for c in children], s, e))
    return (e - s) - covered


def layer_self_times(spans):
    """Sum of self time per layer.  Each span has ``id``, ``parent`` (an id
    or None), ``layer``, ``start`` and ``end``."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        out[sp["layer"]] = out.get(sp["layer"], 0.0) + self_time(sp, children.get(sp["id"], []))
    return out


def sink_job_kinds(write, jobs):
    """The Spark jobs started inside one ``sink.write`` span, each marked
    ``"encode"`` or ``"recount"``.

    The write first runs the query and encodes it (one SQL execution: its
    first job's ``execution`` id, with every job of that id), then reads the
    staged files back and counts them.  A job outside any SQL execution
    belongs to the encode if it starts before the encode's last job ends.
    """
    inside = sorted((j for j in jobs if write["start"] <= j["start"] <= write["end"]),
                    key=lambda j: j["start"])
    first = next((j["execution"] for j in inside if j["execution"]), None)
    enc_end = max((j["end"] for j in inside if first and j["execution"] == first), default=None)
    out = []
    for j in inside:
        if first is None:
            kind = "encode"
        elif j["execution"]:
            kind = "encode" if j["execution"] == first else "recount"
        else:
            kind = "encode" if j["start"] < enc_end else "recount"
        out.append(dict(j, kind=kind))
    return out


def sink_split(write, jobs):
    """Split one ``sink.write`` span into encode, recount and commit seconds.

    ``jobs`` are Spark jobs with ``start``, ``end`` and ``kind`` (``"recount"``
    for the footer count that decides the empty marker, anything else is the
    query-and-encode work).  Encode is the time any encode job ran inside the
    write; recount the remaining time a recount job ran; commit the rest of
    the write (listing, renames, staging delete, scheduling gaps).  The three
    add up to the write's duration by construction.
    """
    s, e = write["start"], write["end"]
    enc = clip([(j["start"], j["end"]) for j in jobs if j["kind"] != "recount"], s, e)
    rec = clip([(j["start"], j["end"]) for j in jobs if j["kind"] == "recount"], s, e)
    encode = union_length(enc)
    recount = union_length(enc + rec) - encode
    commit = (e - s) - encode - recount
    return {"encode": encode, "recount": recount, "commit": commit}
