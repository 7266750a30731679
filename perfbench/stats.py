"""Percentiles that refuse to rest on too few samples, and the due-time
latency bookkeeping of the open-loop stream phase."""

from __future__ import annotations

import math

MIN_BEYOND = 10  # a percentile needs at least this many samples above it


def _position(n: int, q: float) -> float:
    """0-based position of the ``q``-th percentile among ``n`` sorted
    samples, interpolating linearly between neighbours."""
    return (n - 1) * q / 100


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` sorted samples lie wholly above the ``q``-th
    percentile."""
    return n - 1 - math.ceil(_position(n, q))


def percentile(values, q: float) -> float:
    """Percentile with linear interpolation between neighbouring samples.
    Raises ``ValueError`` when fewer than :data:`MIN_BEYOND` samples lie
    beyond it: such a figure rests on one or two samples (p50 equal to p99
    is the symptom) and must not be reported."""
    xs = sorted(values)
    beyond = samples_beyond(len(xs), q)
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} of {len(xs)} samples has {beyond} beyond it; "
            f"need {MIN_BEYOND}")
    pos = _position(len(xs), q)
    lo = math.floor(pos)
    return xs[lo] + (pos - lo) * (xs[math.ceil(pos)] - xs[lo])


def highest_supported(n: int, candidates=(99.9, 99, 95, 90, 75, 50)) -> float | None:
    """The highest of ``candidates`` that ``n`` samples support."""
    for q in candidates:
        if samples_beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def file_latencies(files, batch_of_file: dict[str, int],
                   commit_at: list[float]) -> tuple[list[float], int]:
    """Event→commit latency of the paced phase, one sample per drop file.

    ``files`` holds ``(name, due, n_orders)`` per drop file, where ``due``
    is when the open-loop schedule wanted the file written (not when the
    generator managed to write it, so generator stalls count against the
    system, as they would for a real producer). ``batch_of_file`` maps a
    file to the micro-batch that read it and ``commit_at[b]`` is when the
    stage-1 sink write of batch ``b`` returned.

    Every order in a file shares its due time and its commit time, so a
    file is one sample, however many orders it holds: counting orders would
    let a percentile pass the :data:`MIN_BEYOND` rule on a handful of
    distinct values. Files hold the same number of orders, so percentiles
    over files are percentiles over orders. Returns one latency per
    committed file, in seconds, and the number of orders never committed."""
    out: list[float] = []
    missing = 0
    for name, due, n in files:
        b = batch_of_file.get(name)
        if b is None or b >= len(commit_at):
            missing += n
            continue
        out.append(commit_at[b] - due)
    return out, missing


def due_times(start: float, period: float, n: int) -> list[float]:
    """The open-loop schedule: file ``k`` is due at ``start + k·period``."""
    return [start + k * period for k in range(n)]


def late_by(due: float, written: float) -> float:
    """How late the generator wrote a file (0 when on time)."""
    return max(0.0, written - due)

