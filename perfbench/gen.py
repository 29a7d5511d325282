"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed and the size: the same
seed writes byte-identical files. The generators also compute the
outputs the engine must produce, independently of the engine, so the
benchmark can check them after the timed region.

Digests are order-independent: the sum of a 64-bit hash of every line,
modulo 2**64, so two outputs agree only if they hold the same lines
the same number of times, in any order.
"""
from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass

MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec")
ACTS = ("accept", "deny", "drop", "reset")
PARTS = 4
#: lookup-table rows; the lines name 600 users, so some miss the table
USERS = 500
SEVERITIES = ("emerg", "alert", "crit", "err", "warning", "notice", "info",
              "debug")


def line_hash(line: str) -> int:
    return int.from_bytes(
        hashlib.blake2b(line.encode(), digest_size=8).digest(), "little")


def digest(lines) -> tuple[int, int]:
    """(line count, order-independent digest) of an iterable of lines."""
    n = acc = 0
    for line in lines:
        n += 1
        acc = (acc + line_hash(line)) & 0xFFFFFFFFFFFFFFFF
    return n, acc


@dataclass
class Expected:
    """Lines and digest one output must hold."""
    count: int = 0
    digest: int = 0

    def add(self, line: str) -> None:
        self.count += 1
        self.digest = (self.digest + line_hash(line)) & 0xFFFFFFFFFFFFFFFF


@dataclass
class SyslogCorpus:
    """Generated RFC3164 input files, the lookup table and the expected
    sink contents."""
    input_dir: str
    table: str
    expected: dict[str, Expected]


def _rfc3164_fields(rng: random.Random, i: int) -> dict:
    return {
        "pri": rng.randrange(192),
        "ts": (f"{MONTHS[rng.randrange(12)]} {rng.randrange(1, 29):2d} "
               f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:"
               f"{rng.randrange(60):02d}"),
        "host": f"host{rng.randrange(500)}",
        "tag": f"app{rng.randrange(50)}[{rng.randrange(1, 99999)}]:",
        "seq": i,
        "user": f"u{rng.randrange(600)}",
        "src": f"10.{rng.randrange(256)}.{rng.randrange(256)}."
               f"{rng.randrange(256)}",
        "bytes": rng.randrange(100_000),
        "act": ACTS[rng.randrange(len(ACTS))],
    }


def _write_parts(input_dir: str, lines: list[str]) -> None:
    """Split ``lines`` over PARTS files, one scan task per core."""
    os.makedirs(input_dir, exist_ok=True)
    step = (len(lines) + PARTS - 1) // PARTS
    for p in range(PARTS):
        chunk = lines[p * step:(p + 1) * step]
        with open(os.path.join(input_dir, f"part-{p:03d}.log"), "w",
                  encoding="utf-8") as f:
            f.write("".join(chunk))


def pipeline_corpus(input_dir: str, n: int, seed: int) -> SyslogCorpus:
    """Lines and a USERS-row lookup table for the config_pipeline
    workload; the expected contents of its three sinks follow the
    ruleset in ``workloads.PIPELINE_CONF``:

    - ``all``:  every line, ``host dept act bytes seq``
    - ``deny``: lines with ``action=deny``, the ``$!`` tree as JSON
    - ``big``:  other lines with ``bytes > 50000``, ``seq src dept``
    """
    rng = random.Random(seed)
    depts = {f"u{k}": f"dept{(k * 7 + seed) % 23}" for k in range(USERS)}
    table = os.path.join(input_dir, "users.json")
    os.makedirs(input_dir, exist_ok=True)
    with open(table, "w", encoding="utf-8") as f:
        json.dump({"version": 1, "nomatch": "nodept", "type": "string",
                   "table": [{"index": k, "value": v}
                             for k, v in depts.items()]}, f)
    exp = {"all": Expected(), "deny": Expected(), "big": Expected()}
    lines = []
    data_dir = os.path.join(input_dir, "lines")
    for i in range(n):
        f = _rfc3164_fields(rng, i)
        msg = (f"seq={i} user={f['user']} src={f['src']} "
               f"bytes={f['bytes']} action={f['act']}")
        lines.append(f"<{f['pri']}>{f['ts']} {f['host']} {f['tag']} {msg}\n")
        dept = depts.get(f["user"], "nodept")
        exp["all"].add(f"{f['host']} {dept} {f['act']} {f['bytes']} {i}")
        if f["act"] == "deny":
            tree = {"seq": str(i), "user": f["user"], "dept": dept,
                    "act": f["act"], "bytes": str(f["bytes"]),
                    "src": f["src"], "sev": SEVERITIES[f["pri"] % 8],
                    "octet": f["src"].split(".")[1]}
            exp["deny"].add(render_tree(tree))
        elif f["bytes"] > 50_000:
            exp["big"].add(f"{i} {f['src']} {dept}")
    _write_parts(data_dir, lines)
    return SyslogCorpus(data_dir, table, exp)


#: key order of the ``$!`` tree as the pipeline's ``set`` statements
#: create it
TREE_KEYS = ("seq", "user", "dept", "act", "bytes", "src", "sev", "octet")


def render_tree(tree: dict) -> str:
    """The ``%!%`` JSON text rsyslog writes for a ``$!`` tree: keys in
    creation order, ``"k": v`` pairs joined by ``, ``."""
    return "{ " + ", ".join(f'"{k}": {json.dumps(tree[k])}'
                            for k in TREE_KEYS) + " }"
