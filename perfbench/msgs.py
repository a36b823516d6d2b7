"""Seeded Layer A inputs: message plans, envelopes and corrupt records.

Keys are Zipf-distributed over N_KEYS names; the stub routes a key to
shard crc32(key) % N_SHARDS, so the hottest key's shard carries the
most records. Payload sizes are lognormal (median 512 B) clipped to
16 KiB. Every message carries its key, a per-key counter and its
creation (or scheduled send) time in the headers.
"""

from __future__ import annotations

import json
import zlib
from dataclasses import dataclass

import numpy as np

N_KEYS = 1000
N_SHARDS = 4
ZIPF_S = 1.1
PAYLOAD_MEDIAN = 512
PAYLOAD_SIGMA = 1.0
PAYLOAD_MAX = 16 * 1024
DUP_SHARE = 0.01
CORRUPT_SHARE = 0.005
STREAM = "bench"

KEYS = [f"key-{i:04d}" for i in range(N_KEYS)]
KEY_SHARD = np.array([zlib.crc32(k.encode()) % N_SHARDS for k in KEYS])
_ZIPF_P = 1.0 / np.arange(1, N_KEYS + 1) ** ZIPF_S
_ZIPF_P /= _ZIPF_P.sum()

_PHASES = {"backlog": 0, "warm": 1, "low": 2, "high": 3}


def phase_rng(seed: int, phase: str) -> np.random.Generator:
    return np.random.default_rng([seed, _PHASES[phase]])


@dataclass
class Plan:
    """One phase's messages, in send order."""

    phase: str
    keys: np.ndarray  # key index per message
    seqs: np.ndarray  # per-key counter
    sizes: np.ndarray  # payload bytes
    rng: np.random.Generator  # continues into payload bytes

    @property
    def n(self) -> int:
        return len(self.keys)

    def uuid(self, i: int) -> str:
        return f"{self.phase}-{i:07d}"

    def payload(self, i: int) -> bytes:
        return self.rng.bytes(int(self.sizes[i]))

    def headers(self, i: int, created_ms: int) -> dict[str, str]:
        return {
            "partitionKey": KEYS[self.keys[i]],
            "seq": str(int(self.seqs[i])),
            "created_ms": str(created_ms),
            "phase": self.phase,
        }


def make_plan(seed: int, phase: str, n: int, counters: np.ndarray) -> Plan:
    """Draw n messages; ``counters`` (next counter per key) advances."""
    rng = phase_rng(seed, phase)
    keys = rng.choice(N_KEYS, n, p=_ZIPF_P)
    sizes = np.clip(
        rng.lognormal(np.log(PAYLOAD_MEDIAN), PAYLOAD_SIGMA, n), 1, PAYLOAD_MAX
    ).astype(np.int64)
    seqs = np.empty(n, dtype=np.int64)
    for i, k in enumerate(keys):
        seqs[i] = counters[k]
        counters[k] += 1
    return Plan(phase, keys, seqs, sizes, rng)


def corrupt_records(rng: np.random.Generator, n: int) -> list[tuple[str, str]]:
    """n undecodable (data, partition_key) records: alternately bad
    JSON and a well-formed envelope whose data is not base64."""
    out = []
    for i, k in enumerate(rng.choice(N_KEYS, n, p=_ZIPF_P)):
        if i % 2:
            data = json.dumps(
                {"watermill_message_uuid": f"corrupt-{i:06d}", "data": "@@not base64@@",
                 "headers": {"partitionKey": KEYS[k]}}
            )
        else:
            data = '{"watermill_message_uuid": "corrupt-%06d", "data": ' % i
        out.append((data, KEYS[k]))
    return out
