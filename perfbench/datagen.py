"""Seeded CDC input for the ``cdc_lakehouse`` workload.

``CdcGenerator`` yields Debezium-envelope JSON lines for the
``jobs.ORDER_PAYLOAD`` table (inserts, updates and deletes over
Zipf-skewed keys, plus a small share of corrupt lines) and keeps the
exact last-write-wins replay the correctness check compares against.
Its randomness comes from the seed alone: the same seed gives
byte-identical inputs.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np

ORDER_STATUSES = ["created", "approved", "invoiced", "shipped", "delivered", "canceled"]


@dataclass
class CdcGenerator:
    """Debezium change events for ``orders(order_id, order_status, amount)``.

    Keys are Zipf-skewed over ``n_keys``; an existing key gets an update
    or delete, a new one an insert. ``source_ts_ms`` is strictly
    increasing, so last-write-wins is unambiguous. ``corrupt_share`` of
    the lines are malformed and must land in quarantine, not silver.

    ``state`` is the replayed table (key -> (status, amount)); ``states``
    keeps a copy after every batch so read ops can be checked against the
    snapshot they saw.
    """

    seed: int
    n_keys: int = 2000
    zipf_a: float = 1.3
    corrupt_share: float = 0.02
    delete_share: float = 0.08
    rng: np.random.Generator = field(init=False)
    ts_ms: int = 1_700_000_000_000
    state: dict[str, tuple[str, float]] = field(default_factory=dict)
    states: list[dict[str, tuple[str, float]]] = field(default_factory=list)
    events: int = 0
    corrupt: int = 0

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng([self.seed, 0xCDC])
        self.states.append({})

    def batch(self, n: int) -> str:
        """Next ``n`` events as JSON lines; advances the replay."""
        rng = self.rng
        keys = (rng.zipf(self.zipf_a, n) - 1) % self.n_keys
        roll = rng.random(n)
        statuses = rng.integers(0, len(ORDER_STATUSES), n)
        cents = rng.integers(100, 1_000_000, n)
        lines = []
        for k, r, s, c in zip(keys, roll, statuses, cents):
            self.ts_ms += 1
            key = f"o{int(k):05d}"
            if r < self.corrupt_share:
                self.corrupt += 1
                lines.append(
                    '{"before": null, "after": {"order_id": "' + key + '", "amount": '
                    if r < self.corrupt_share / 2
                    else json.dumps({"after": {"order_id": key}, "source_ts_ms": self.ts_ms})
                )
                continue
            image = {
                "order_id": key,
                "order_status": ORDER_STATUSES[int(s)],
                "amount": int(c) / 100.0,
            }
            if key in self.state and r < self.corrupt_share + self.delete_share:
                op = "d"
                del self.state[key]
            else:
                op = "u" if key in self.state else "c"
                self.state[key] = (image["order_status"], image["amount"])
            lines.append(
                json.dumps(
                    {
                        "before": image if op == "d" else None,
                        "after": None if op == "d" else image,
                        "op": op,
                        "source_ts_ms": self.ts_ms,
                    }
                )
            )
        self.events += n
        text = "\n".join(lines) + "\n"
        self.states.append(dict(self.state))
        return text
