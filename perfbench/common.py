"""State one benchmark run shares across its workload code."""

from __future__ import annotations

import hashlib
import math
import os
import sys
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field


_TICK = os.sysconf("SC_CLK_TCK")


def _jit_ticks(pid: str) -> int:
    """CPU ticks of the JVM's JIT compiler threads."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        if "CompilerThre" in head:
            fields = rest.split()
            total += int(fields[11]) + int(fields[12])
    return total


def proc_stats() -> dict[int, tuple[int, int]]:
    """``pid -> (parent pid, CPU ticks)`` for every process; the ticks
    are user + system time of the process and of the exited children
    it has reaped, less a JVM's JIT compiler threads (warm-up work
    whose amount and timing vary from run to run)."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    head, rest = f.read().rsplit(")", 1)
                fields = rest.split()
                ticks = sum(int(x) for x in fields[11:15])
                if head.endswith("(java"):
                    ticks -= _jit_ticks(d)
            except OSError:
                continue
            out[int(d)] = (int(fields[1]), ticks)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process under it
    (here: the Spark driver's Python, its JVM and Python workers), as counted by
    :func:`proc_stats`. Time the host takes the CPUs away (steal) does
    not count, so this moves far less than wall time when other guests
    load the host."""
    stats = proc_stats()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return ticks / _TICK


def _norm_value(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0" if v == 0 else f"{v:.17g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


class CheckFailed(Exception):
    """An output differs from its expected value."""


def rows_digest(cols: list[str], rows: list[tuple]) -> tuple:
    """Order-insensitive digest of a result: sorted column names, row
    count and a hash of the normalised, sorted rows (floats round-trip
    exact, columns in name order)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return sorted(cols), len(rows), h


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: object | None = None
    corrupt: str | None = None
    attempted: int = 0
    failed: int = 0
    setup: dict = field(default_factory=dict)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    ops: dict = field(default_factory=dict)  # op id -> (start, end) epoch seconds
    _op: int = 0

    def cpu(self) -> float:
        return tree_cpu_s(os.getpid())

    def next_op(self) -> int:
        self._op += 1
        return self._op

    def span(self, name: str, op: int | None = None):
        return self.tracer.span(name, op) if self.tracer else nullcontext()

    def attempt(self, fn):
        """Run one operation; an exception or a failed output check
        counts as one failure and the run goes on."""
        self.attempted += 1
        try:
            return fn()
        except CheckFailed as e:
            self.failed += 1
            print(f"CHECK FAILED {e}", file=sys.stderr)
        except Exception:  # noqa: BLE001 — counted, reported, run continues
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
        return None

    def check(self, name: str, got, want) -> None:
        """Raise :class:`CheckFailed` when an output differs from its
        expected value. ``corrupt`` names one check whose expected value
        is deliberately falsified (benchmark self-test)."""
        if name == self.corrupt:
            want = ("corrupted", want)
        if got != want:
            raise CheckFailed(f"{name}: got {str(got)[:300]} want {str(want)[:300]}")
