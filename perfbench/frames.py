"""Seeded serial-frame formulas shared by the load generator and the checks.

Frame ``i`` of a run is a pure function of ``(seed, i)``.  Its class, node
and arity come from a residue table over ``i % PERIOD`` that the seed
shuffles, so the frames of each class below ``n`` count in closed form.
Valid frames read

    ``<node> <i> <due_us> <v1> ... <vk>``

so the sequence number and the scheduled send time (microseconds after
the generator's start) ride through the parser into the sink payload.
Values are two-decimal numbers, which the emoncms encoder prints back
exactly.  The one reject class is the reference's P2 case, info lines
(``>``), which the gateway dead-letters.
"""

from __future__ import annotations

import random

PERIOD = 64
NODES = (5, 10, 11, 12, 15, 19, 20, 27)

VALID = "valid"
INFO = "info_frame"


class FrameSpec:
    """The frame stream for one seed.

    ``rejects`` maps each reject class to how many residues of the
    period it takes; the rest of the period is valid frames.
    """

    def __init__(self, seed: int, rejects: dict[str, int]):
        rng = random.Random(seed * 7919 + 17)
        slots = [cls for cls, n in rejects.items() for _ in range(n)]
        slots += [VALID] * (PERIOD - len(slots))
        rng.shuffle(slots)
        self.cls = slots
        self.node = [rng.choice(NODES) for _ in range(PERIOD)]
        self.arity = {n: rng.randint(1, 4) for n in NODES}
        self.salt = rng.randrange(100_000)

    def values(self, i: int) -> list[float]:
        node = self.node[i % PERIOD]
        return [((i * (j + 3) * 7919 + self.salt) % 100_000) / 100 for j in range(self.arity[node])]

    def line(self, i: int, due_us: int = 0) -> str:
        cls = self.cls[i % PERIOD]
        if cls == VALID:
            vals = " ".join(repr(v) for v in self.values(i))
            return f"{self.node[i % PERIOD]} {i} {due_us} {vals}"
        assert cls == INFO, cls
        return f"> {i} {due_us} OEMG info"

    def seqs_of(self, cls: str, n: int) -> set[int]:
        return {i for i in range(n) if self.cls[i % PERIOD] == cls}

    def count(self, cls: str, n: int) -> int:
        return sum(_count(r, n) for r in range(PERIOD) if self.cls[r] == cls)


def _count(r: int, n: int) -> int:
    """How many ``i`` in ``[0, n)`` have ``i % PERIOD == r``."""
    return max(0, (n - r + PERIOD - 1) // PERIOD)
