"""CPU time the hypervisor took from this machine's busy CPUs.

On a shared host the hypervisor runs other tenants' work on the CPUs this
machine wants to run on, and the guest kernel counts that time as
``steal`` in ``/proc/stat``. An idle CPU accrues no steal, so while the
benchmark is the only busy process, steal is time its threads were ready
to run and could not. Timings are reported net of the stolen share of
the busy CPU time in their interval: over ten batch runs the stolen
share explained most of the spread of the raw wall times.
"""

from __future__ import annotations


def sample() -> tuple[int, int]:
    """(busy, stolen) clock ticks so far, summed over all CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Stolen share of the busy CPU time between two samples."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0
