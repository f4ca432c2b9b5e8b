"""Seeded input generators and expected-output replays.

Every input the benchmark hands to the program is built here from a
seed: the same seed gives byte-identical files, another seed gives
other files. Each generator also returns what the program's output
must be (row counts, key hashes, per-op event counts, the replayed
table state, the planted near-duplicate families), so the output
checks in `checks.py` never ask the program under test for the answer.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DB = "app"
FILES_PER_TABLE = 8


def _words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """n lowercase pseudo-words of length lo..hi."""
    lengths = rng.integers(lo, hi + 1, size=n)
    letters = rng.integers(0, 26, size=int(lengths.sum()))
    chars = (letters + 97).astype(np.uint8).tobytes().decode("ascii")
    out, pos = [], 0
    for n_ in lengths:
        out.append(chars[pos:pos + n_])
        pos += n_
    return out


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """n space-joined phrases of lo..hi words (varied string length)."""
    counts = rng.integers(lo, hi + 1, size=n)
    words = _words(rng, int(counts.sum()), 2, 9)
    out, pos = [], 0
    for c in counts:
        out.append(" ".join(words[pos:pos + c]))
        pos += c
    return out


def _with_nulls(rng: np.random.Generator, values: list, share: float) -> list:
    mask = rng.random(len(values)) < share
    return [None if m else v for v, m in zip(values, mask)]


def _write_table(root: str, name: str, table: pa.Table) -> None:
    """One table as a directory of FILES_PER_TABLE parquet files, so
    the scan splits across cores independently of the host."""
    d = os.path.join(root, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    step = -(-table.num_rows // FILES_PER_TABLE)
    for i in range(FILES_PER_TABLE):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(d, f"part-{i:05d}.parquet"),
            row_group_size=64_000,
        )


# --------------------------------------------------------------- snapshot

@dataclass
class SnapshotInputs:
    root: str
    tables: dict[str, int]   # table -> rows


def _cents(rng: np.random.Generator, n: int, hi: int) -> pa.Array:
    """decimal(18,2) values 0..hi/100, built from their unscaled
    little-endian 128-bit words (non-negative, so the high word is 0)."""
    words = np.zeros((n, 2), np.int64)
    words[:, 0] = rng.integers(0, hi, size=n)
    return pa.Array.from_buffers(
        pa.decimal128(18, 2), n, [None, pa.py_buffer(words.tobytes())]
    )


def gen_snapshot(root: str, seed: int, rows: dict[str, int]) -> SnapshotInputs:
    """Typed source tables for the snapshot publish: long, int,
    decimal, double, date, timestamp and string columns, with nulls
    and varied string lengths. The first column is the primary key, a
    permutation of 0..n-1."""
    rng = np.random.default_rng([seed, 1])
    epoch_us = 1_700_000_000_000_000
    builders = {
        "orders": lambda n: pa.table({
            "id": pa.array(rng.permutation(n).astype(np.int64)),
            "customer_id": pa.array(rng.integers(0, 50_000, n).astype(np.int32)),
            "amount": _cents(rng, n, 10**8),
            "discount": pa.array(_with_nulls(rng, list(rng.random(n)), 0.05), pa.float64()),
            "order_date": pa.array(rng.integers(18_000, 20_000, n).astype(np.int32)).cast(pa.date32()),
            "updated_at": pa.array(epoch_us + rng.integers(0, 10**13, n)).cast(pa.timestamp("us", tz="UTC")),
            "status": pa.array(np.array(["new", "paid", "shipped", "returned"])[rng.integers(0, 4, n)]),
            "note": pa.array(_with_nulls(rng, _texts(rng, n, 0, 12), 0.2), pa.string()),
        }),
        "customers": lambda n: pa.table({
            "id": pa.array(rng.permutation(n).astype(np.int64)),
            "name": pa.array(_texts(rng, n, 1, 3)),
            "email": pa.array(_with_nulls(rng, [w + "@example.com" for w in _words(rng, n, 4, 14)], 0.1), pa.string()),
            "balance": _cents(rng, n, 10**7),
            "score": pa.array(rng.normal(0, 1, n)),
            "birth": pa.array(rng.integers(-10_000, 12_000, n).astype(np.int32)).cast(pa.date32()),
            "created": pa.array(epoch_us + rng.integers(0, 10**13, n)).cast(pa.timestamp("us", tz="UTC")),
        }),
        "events": lambda n: pa.table({
            "id": pa.array(rng.permutation(n).astype(np.int64)),
            "ts": pa.array(epoch_us + rng.integers(0, 10**13, n)).cast(pa.timestamp("us", tz="UTC")),
            "kind": pa.array(np.array(["view", "click", "buy", "error", "login"])[rng.integers(0, 5, n)]),
            "payload": pa.array(_texts(rng, n, 3, 60)),
            "value": pa.array(_with_nulls(rng, list(rng.exponential(10.0, n)), 0.3), pa.float64()),
            "flag": pa.array(rng.integers(0, 3, n).astype(np.int32)),
        }),
    }
    for name, n in rows.items():
        _write_table(root, name, builders[name](n))
    return SnapshotInputs(root=root, tables=dict(rows))


# ------------------------------------------------------------- binlog log

SERVER_ID = "3e11fa47-71ca-11e1-9e33-c80aa9429562"


class BinlogWriter:
    """Builds MySQL-binlog-shaped JSONL records (the logtail source's
    record shape) and appends them, rotating to a new file every
    `rotate_every` lines, as MySQL rotates its binlog."""

    def __init__(self, log_dir: str, rotate_every: int):
        os.makedirs(log_dir, exist_ok=True)
        self.log_dir = log_dir
        self.rotate_every = rotate_every
        self.lines = 0      # lines written so far
        self.seq = 0        # next log position handed out
        self.tx = 0

    def record(self, kind: str, tbl: str | None = None, op: str | None = None,
               statement: str | None = None, before: dict | None = None,
               after: dict | None = None, new_tx: bool = True) -> dict:
        if new_tx or not self.tx:
            self.tx += 1
        rec = {
            "seq": self.seq, "ts_ms": 1_700_000_000_000 + self.seq, "db": DB,
            "tbl": tbl, "kind": kind, "op": op, "gtid_sid": SERVER_ID,
            "gtid_tx": self.tx, "statement": statement,
            "before": None if before is None else json.dumps(before),
            "after": None if after is None else json.dumps(after),
        }
        self.seq += 1
        return rec

    def write(self, recs: list[dict]) -> None:
        i = 0
        while i < len(recs):
            take = self.rotate_every - self.lines % self.rotate_every
            name = f"mysql-bin.{self.lines // self.rotate_every + 1:06d}.jsonl"
            with open(os.path.join(self.log_dir, name), "a") as f:
                f.write("".join(json.dumps(r) + "\n" for r in recs[i:i + take]))
            self.lines += len(recs[i:i + take])
            i += take


def _create_ddl(table: str, cols: list[str]) -> str:
    return f"CREATE TABLE {table} (" + ", ".join(
        f"{c} {'bigint' if c == 'id' else 'text'}" for c in cols
    ) + ")"


class _Values:
    """Cheap seeded scalar draws for the per-event generator (Python's
    `random.Random` is much faster per call than numpy for scalars)."""

    def __init__(self, seed: list[int]):
        self.r = random.Random(repr(seed))
        self.pool = _words(np.random.default_rng(seed + [99]), 4096, 2, 12)

    def word(self) -> str:
        return self.pool[self.r.getrandbits(12)]

    def note(self) -> str | None:
        if self.r.random() < 0.3:
            return None
        return " ".join(self.word() for _ in range(self.r.randint(1, 12)))


# -------------------------------------------------------------- CDC waves

WAVE_TABLE = "accounts"
WAVE_COLS = ["id", "owner", "balance", "status", "note"]
ADDED_COLUMN = "tier"
STATE_COLS = WAVE_COLS + [ADDED_COLUMN]
STATUSES = ("open", "frozen", "closed")
TIERS = ("gold", "silver", "bronze")


@dataclass
class WaveState:
    """The source database the waves replicate from: the live rows
    (STATE_COLS tuples of strings or None, the wire shape the Transfer
    table holds), the binlog it appends to and the Zipf key order."""

    log: BinlogWriter
    values: _Values
    zipf: np.random.Generator
    live: dict[str, tuple]
    order: np.ndarray
    next_id: int
    altered: bool = False
    zipf_a: float = 1.2
    replay_share: float = 0.01

    def _value(self, key: int) -> tuple:
        v = self.values
        return (str(key), v.word() + v.word(), str(v.r.randrange(10**9)),
                STATUSES[v.r.randrange(3)], v.note(),
                TIERS[v.r.randrange(3)] if self.altered else None)

    def _wire(self, row: tuple) -> dict:
        """JSON row image; integer-looking columns as JSON numbers."""
        d = dict(zip(STATE_COLS if self.altered else WAVE_COLS, row))
        d["id"] = int(d["id"])
        d["balance"] = int(d["balance"])
        return d

    def next_wave(self, n_changes: int, alter: bool = False) -> list[dict]:
        """Records for one wave: Zipf-skewed updates and deletes of
        existing keys and inserts of new keys (a delete or update drawn
        on a key that is gone re-inserts it), plus about `replay_share`
        exact GTID replays of a record a few positions back. With
        `alter`, the wave opens with `ALTER TABLE ... ADD COLUMN tier`
        and every later row image carries the column."""
        log, r = self.log, self.values.r
        recs = []
        if alter:
            recs.append(log.record("ddl", WAVE_TABLE, statement=(
                f"ALTER TABLE {WAVE_TABLE} ADD COLUMN {ADDED_COLUMN} text")))
            self.altered = True
        ranks = np.minimum(self.zipf.zipf(self.zipf_a, n_changes) - 1, len(self.order) - 1)
        for rank in ranks:
            if len(recs) > 5 and r.random() < self.replay_share:
                # reconnect replay: same GTID and log position, re-sent
                recs.append(dict(recs[-r.randint(1, 5)]))
                continue
            u = r.random()
            if u < 0.2:
                key = self.next_id
                self.next_id += 1
            else:
                key = int(self.order[rank])
            k = str(key)
            cur = self.live.get(k)
            if cur is None:
                row = self._value(key)
                recs.append(log.record("dml", WAVE_TABLE, "c", after=self._wire(row)))
                self.live[k] = row
            elif u < 0.3:
                recs.append(log.record("dml", WAVE_TABLE, "d", before=self._wire(cur)))
                del self.live[k]
            else:
                row = self._value(key)
                recs.append(log.record("dml", WAVE_TABLE, "u", before=self._wire(cur),
                                       after=self._wire(row)))
                self.live[k] = row
        return recs


def gen_waves(root: str, seed: int, n_rows: int, rotate_every: int) -> WaveState:
    """The snapshot of `accounts` (parquet, all columns strings) plus a
    binlog holding its CREATE TABLE; later waves append to the log."""
    rng = np.random.default_rng([seed, 3])
    log = BinlogWriter(os.path.join(root, "log"), rotate_every)
    log.write([log.record("ddl", WAVE_TABLE, statement=wave_ddl())])
    cols = [
        [str(k) for k in range(n_rows)],
        _words(rng, n_rows, 3, 12),
        [str(b) for b in rng.integers(0, 10**9, n_rows)],
        [STATUSES[i] for i in rng.integers(0, 3, n_rows)],
        _with_nulls(rng, _texts(rng, n_rows, 1, 12), 0.3),
    ]
    _write_table(os.path.join(root, "snap"), WAVE_TABLE, pa.table(
        {c: pa.array(v, pa.string()) for c, v in zip(WAVE_COLS, cols)}
    ))
    return WaveState(
        log=log, values=_Values([seed, 3]), zipf=rng,
        live={row[0]: row + (None,) for row in zip(*cols)},
        order=rng.permutation(n_rows), next_id=n_rows,
    )


def wave_ddl() -> str:
    return _create_ddl(WAVE_TABLE, WAVE_COLS)


# ------------------------------------------------------------ curate corpus

@dataclass
class CorpusInputs:
    root: str
    n_docs: int
    families: list[list[int]] = field(default_factory=list)  # member ids
    singletons: list[int] = field(default_factory=list)

    def survivors(self) -> set[int]:
        return {min(f) for f in self.families} | set(self.singletons)


def gen_corpus(root: str, seed: int, n_docs: int, family_share: float,
               doc_words: int = 150, vocab: int = 60_000) -> CorpusInputs:
    """A corpus with planted near-duplicate families. A family is a
    base document plus members that each replace at most 2 of its
    `doc_words` distinct words, so any two members share >= 0.94 word
    Jaccard; unrelated documents draw from a `vocab`-word vocabulary
    and share far below 0.8."""
    rng = np.random.default_rng([seed, 4])
    words = np.array(sorted(set(_words(rng, vocab * 2, 3, 10))))[:vocab]
    rng.shuffle(words)
    texts: list[str] = []
    fam_of: list[int] = []   # family index or -1 per doc, in generation order
    n_fam_docs = int(n_docs * family_share)
    fam = 0
    while len(texts) < n_fam_docs:
        size = int(min(rng.integers(2, 6), n_fam_docs - len(texts)))
        if size < 2:
            break
        base = rng.choice(len(words), doc_words, replace=False)
        for _ in range(size):
            doc = base.copy()
            for pos in rng.choice(doc_words, int(rng.integers(0, 3)), replace=False):
                doc[pos] = rng.integers(0, len(words))
            texts.append(" ".join(words[doc]))
            fam_of.append(fam)
        fam += 1
    while len(texts) < n_docs:
        texts.append(" ".join(words[rng.choice(len(words), doc_words, replace=False)]))
        fam_of.append(-1)
    ids = rng.permutation(len(texts)).astype(np.int64) * 7 + 11
    families: dict[int, list[int]] = {}
    singles = []
    for i, f in enumerate(fam_of):
        (families.setdefault(f, []) if f >= 0 else singles).append(int(ids[i]))
    order = np.argsort(ids)
    _write_table(root, "documents", pa.table({
        "doc_id": pa.array(ids[order]),
        "text": pa.array([texts[i] for i in order]),
    }))
    return CorpusInputs(root=root, n_docs=len(texts),
                        families=list(families.values()), singletons=singles)
