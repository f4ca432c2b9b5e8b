"""Property-based invariants (hypothesis) for the partitioning and
join operators — the classes of bugs the reference guards with its
scan-correctness integration test
(/root/reference/integration_tests/postgres/main.go:878-951: no
dupes/drops at chunk boundaries for any batch size).
"""

import datetime as dt

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from reader_spark.operators import joins as JO
from reader_spark.sources.jdbc import MYSQL, composite_pk_predicates
import pytest

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    pks=st.lists(
        st.tuples(st.integers(-50, 50), st.text("ab", min_size=0, max_size=3)),
        min_size=0, max_size=40, unique=True,
    ),
    n_bounds=st.integers(0, 5),
)
@SET
def test_composite_predicates_partition_exactly(spark, pks, n_bounds):
    """Every PK tuple matches EXACTLY ONE generated predicate — the
    union is the table, pairwise disjoint (no dupes/drops at
    boundaries, for any boundary count)."""
    boundaries = sorted(set(pks))[:n_bounds]
    preds = composite_pk_predicates(boundaries, ["a", "b"], MYSQL)
    df = spark.createDataFrame(pks or [(0, "x")], "a int, b string")
    if not pks:
        df = df.limit(0)
    total = 0
    seen = set()
    for p in preds:
        rows = df.filter(F.expr(p.replace("`", ""))).collect()
        total += len(rows)
        for r in rows:
            assert (r.a, r.b) not in seen  # disjoint
            seen.add((r.a, r.b))
    assert total == len(pks)  # complete


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=0, max_size=25
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=0, max_size=25
    ),
)
@SET
def test_asof_join_matches_naive(spark, left, right):
    """asof_join == per-row argmax(rt <= lt) reference semantics."""
    # unique (key, ts) on the right — the operator's documented contract
    right = list({(k, t): (k, t) for k, t in right}.values())
    base = dt.datetime(2024, 1, 1)
    lrows = [(k, base + dt.timedelta(minutes=m), i) for i, (k, m) in enumerate(left)]
    rrows = [(k, base + dt.timedelta(minutes=m), f"v{k}:{m}") for k, m in right]
    ldf = spark.createDataFrame(lrows or [(0, base, 0)], "k int, t timestamp, lid int")
    rdf = spark.createDataFrame(rrows or [(0, base, "x")], "rk int, rt timestamp, val string")
    if not lrows:
        ldf = ldf.limit(0)
    if not rrows:
        rdf = rdf.limit(0)
    out = {r.lid: r.val for r in JO.asof_join(ldf, rdf, "k", "rk", "t", "rt").collect()}
    for k, m, lid in [(k, m, i) for i, (k, m) in enumerate(left)]:
        cands = [(rm, f"v{rk}:{rm}") for rk, rm in right if rk == k and rm <= m]
        want = max(cands)[1] if cands else None
        assert out.get(lid) == want


@given(
    points=st.lists(st.floats(0, 500, allow_nan=False), min_size=0, max_size=30),
    intervals=st.lists(
        st.tuples(st.floats(0, 400, allow_nan=False), st.floats(1, 200, allow_nan=False)),
        min_size=0, max_size=8,
    ),
    width=st.sampled_from([7.0, 30.0, 128.0]),
)
@SET
def test_range_bin_join_matches_naive(spark, points, intervals, width):
    ivs = [(lo, lo + w) for lo, w in intervals]
    pdf = spark.createDataFrame([(p,) for p in points] or [(0.0,)], "v double")
    idf = spark.createDataFrame(ivs or [(0.0, 1.0)], "lo double, hi double")
    if not points:
        pdf = pdf.limit(0)
    if not ivs:
        idf = idf.limit(0)
    got = sorted(
        (r.v, r.lo, r.hi)
        for r in JO.range_bin_join(pdf, idf, "v", "lo", "hi", bin_width=width).collect()
    )
    want = sorted(
        (p, lo, hi) for p in points for lo, hi in ivs if lo <= p < hi
    )
    assert got == want


@given(
    h=st.integers(0, 23), m=st.integers(0, 59), s=st.integers(0, 59),
    frac=st.one_of(st.none(), st.integers(0, 999), st.integers(0, 999999)),
    off_sign=st.sampled_from(["+", "-"]),
    off_h=st.integers(0, 14),
    off_m=st.sampled_from([None, 0, 30, 45]),
)
@SET
def test_timetz_matches_python_clock_arithmetic(
    spark, h, m, s, frac, off_sign, off_h, off_m
):
    """timetz -> UTC string equals an independent python computation
    (wraps mod 24h, micros padded), for any offset/fraction layout."""
    txt = f"{h:02d}:{m:02d}:{s:02d}"
    micros = 0
    if frac is not None:
        fs = str(frac).rjust(3 if frac <= 999 else 6, "0")
        txt += f".{fs}"
        micros = int(fs.ljust(6, "0"))
    txt += f"{off_sign}{off_h:02d}"
    if off_m is not None:
        txt += f":{off_m:02d}"
    offset = (off_h * 3600 + (off_m or 0) * 60) * (-1 if off_sign == "-" else 1)
    total = ((h * 3600 + m * 60 + s - offset) * 1_000_000 + micros) % (
        86_400 * 1_000_000
    )
    want = (
        f"{total // 3_600_000_000:02d}:"
        f"{(total // 60_000_000) % 60:02d}:"
        f"{(total // 1_000_000) % 60:02d}."
        f"{total % 1_000_000:06d}Z"
    )
    from reader_spark.functions import converters as C
    from pyspark.sql import Row

    got = (
        spark.createDataFrame([Row(v=txt)])
        .select(C.timetz_utc_string(F.col("v")).alias("o"))
        .collect()[0]["o"]
    )
    assert got == want, txt


@given(
    digits=st.integers(0, 10**20 - 1),
    scale=st.integers(0, 12),
    neg=st.booleans(),
)
@SET
def test_variable_numeric_round_trips(spark, digits, scale, neg):
    """{scale, two's-complement bytes} reconstructs the exact Decimal
    (the consumer-side decode the reference's transfer lib performs)."""
    from decimal import Decimal

    from pyspark.sql import Row
    from reader_spark.functions import converters as C

    d = Decimal(digits).scaleb(-scale) * (-1 if neg else 1)
    row = (
        spark.createDataFrame([Row(v=str(d))])
        .select(C.variable_numeric(F.col("v")).alias("o"))
        .collect()[0]["o"]
    )
    unscaled = int.from_bytes(bytes(row["value"]), "big", signed=True)
    assert Decimal(unscaled).scaleb(-row["scale"]) == d


@given(
    x=st.floats(allow_nan=False, allow_infinity=False, width=64),
    y=st.floats(allow_nan=False, allow_infinity=False, width=64),
    srid=st.integers(0, 2**31 - 1),
)
@SET
def test_mysql_point_encode_decode_round_trip(spark, x, y, srid):
    """An independently python-encoded MySQL POINT (little-endian WKB
    behind a 4-byte SRID) decodes to bit-identical doubles."""
    import struct as pystruct

    from pyspark.sql import Row
    from reader_spark.functions import converters as C

    raw = (
        srid.to_bytes(4, "little")
        + b"\x01"
        + (1).to_bytes(4, "little")
        + pystruct.pack("<d", x)
        + pystruct.pack("<d", y)
    )
    out = (
        spark.createDataFrame([Row(v=bytearray(raw))])
        .select(C.mysql_point_struct(F.col("v")).alias("o"))
        .collect()[0]["o"]
    )
    assert pystruct.pack("<d", out["x"]) == pystruct.pack("<d", x)
    assert pystruct.pack("<d", out["y"]) == pystruct.pack("<d", y)


# --- curation invariants ---------------------------------------------------


@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 10_000),
            st.sampled_from(["en", "fr", "de"]),
            st.text("abcdef ", min_size=1, max_size=40),
        ),
        min_size=1, max_size=60,
        unique_by=lambda t: t[0],
    ),
    cap=st.integers(1, 10),
)
@SET
def test_stratified_sample_is_subset_and_deterministic(spark, docs, cap):
    from reader_spark.operators import curation as CU

    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    out1 = CU.stratified_sample(df, ["lang"], cap=cap).collect()
    out2 = CU.stratified_sample(df, ["lang"], cap=cap).collect()
    ids = {r["doc_id"] for r in out1}
    # deterministic under re-execution, subset of the input, and the
    # advertised keep-rate never exceeds 1
    assert ids == {r["doc_id"] for r in out2}
    assert ids <= {d[0] for d in docs}
    assert all(0.0 <= r["rate"] <= 1.0 for r in out1)
    # a stratum at-or-under the cap keeps everything (rate == 1)
    from collections import Counter
    sizes = Counter(d[1] for d in docs)
    for r in out1:
        if sizes[r["lang"]] <= cap:
            assert r["rate"] == 1.0


@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 10_000),
            st.text("abcd efg ", min_size=1, max_size=60),
        ),
        min_size=1, max_size=50,
        unique_by=lambda t: t[0],
    ),
    width=st.integers(2, 9),
)
@SET
def test_passage_stats_bounds(spark, docs, width):
    import math

    from reader_spark.operators import curation as CU

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in CU.passage_stats(df, width=width).collect()}
    assert set(out) == {d[0] for d in docs}
    for did, text in docs:
        r = out[did]
        n_toks = len(text.split(" "))
        assert r["n_passages"] == math.ceil(n_toks / width)
        assert 0 <= r["n_dup"] <= r["n_passages"]
        assert 0.0 <= r["dup_frac"] <= 1.0


@given(
    docs=st.lists(
        st.tuples(st.integers(0, 10_000), st.sampled_from(["en", "fr", "de"])),
        min_size=2, max_size=60,
        unique_by=lambda t: t[0],
    ),
    alpha=st.floats(0.05, 0.95),
)
@SET
def test_temperature_rates_invert_frequency(spark, docs, alpha):
    from collections import Counter

    from reader_spark.operators import curation as CU

    df = spark.createDataFrame(
        [(i, g, "w") for i, g in docs], "doc_id long, lang string, text string"
    )
    rates = {
        r["lang"]: r["rate"]
        for r in CU.temperature_resample(df, "lang", alpha=alpha).collect()
    }
    sizes = Counter(g for _, g in docs)
    # smaller groups never get a lower keep-rate than bigger ones,
    # and the smallest group's rate is exactly 1
    if rates:
        for a in rates:
            for b in rates:
                if sizes[a] <= sizes[b]:
                    assert rates[a] >= rates[b]
        smallest = min(sizes, key=lambda g: sizes[g])
        if smallest in rates:
            assert rates[smallest] == 1.0


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["a", "bb", "ccc", "dd", "e"]),
                 min_size=1, max_size=40).map(" ".join),
        min_size=1, max_size=8,
    ),
    width=st.integers(2, 10),
    overlap=st.integers(0, 8),
)
@SET
def test_chunk_documents_covers_exactly(spark, texts, width, overlap):
    """Chunking invariants for any (width, overlap): chunk ordinals
    are dense from 0; every chunk holds 1..width tokens; total token
    instances = n + overlap * (n_chunks - 1) (i.e. consecutive chunks
    share exactly `overlap` tokens, nothing dropped or padded)."""
    from reader_spark.operators.curation import chunk_documents

    if overlap >= width:
        return
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(docs, width=width, overlap=overlap).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_id"]] = r["n_chunk_tokens"]
    for i, t in rows:
        n = len(t.split(" "))
        chunks = by_doc[i]
        k = len(chunks)
        assert sorted(chunks) == list(range(k))
        assert all(1 <= v <= width for v in chunks.values())
        assert sum(chunks.values()) == n + overlap * (k - 1)


@given(
    ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=60, unique=True),
    n_shards=st.integers(1, 9),
    epoch=st.integers(0, 3),
)
@SET
def test_epoch_shuffle_always_a_partition(spark, ids, n_shards, epoch):
    """For any id set / shard count / epoch: output is a permutation
    (each id exactly once), shards in range, positions dense per
    shard."""
    from reader_spark.operators.curation import epoch_shuffle

    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = epoch_shuffle(docs, n_shards=n_shards, epoch=epoch).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(ids)
    shards = {}
    for r in out:
        assert 0 <= r["shard"] < n_shards
        shards.setdefault(r["shard"], []).append(r["pos"])
    for poss in shards.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 3),                      # user
            st.integers(0, 120),                    # minute
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1, max_size=40,
    ),
    horizon_min=st.integers(1, 60),
)
@SET
def test_funnel_matches_naive_reference(spark, events, horizon_min):
    """funnel_steps == the obvious quadratic reference computation,
    for any event soup and horizon (incl. simultaneous timestamps:
    strictly-after semantics)."""
    import datetime as dt

    from reader_spark.operators.joins import funnel_steps

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (u, t0 + dt.timedelta(minutes=m), k) for (u, m, k) in events
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        (r["user_id"], r["ts_0"]): (r["ts_1"], r["ts_2"])
        for r in funnel_steps(
            ev, ["view", "click", "purchase"], horizon_s=horizon_min * 60
        ).collect()
    }
    h = dt.timedelta(minutes=horizon_min)
    views = [(u, t) for (u, t, k) in rows if k == "view"]
    assert len(got) == len(set(views)) or len(got) == len(views)
    for u, vt in views:
        clicks = [t for (uu, t, k) in rows if uu == u and k == "click" and t > vt]
        ct = min(clicks) if clicks else None
        if ct is None or ct - vt > h:
            ct = None
        pt = None
        if ct is not None:
            purchases = [
                t for (uu, t, k) in rows if uu == u and k == "purchase" and t > ct
            ]
            pt = min(purchases) if purchases else None
            if pt is not None and pt - ct > h:
                pt = None
        assert got[(u, vt)] == (ct, pt), (u, vt)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=0, max_size=30).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=8,
    ),
    width=st.integers(2, 5),
)
@SET
def test_duplicate_spans_matches_naive(spark, docs, width):
    """Merged-span coverage equals a brute-force python recomputation
    for any corpus: hash every stride-1 window, find corpus-wide
    duplicates, merge intervals per doc."""
    from collections import Counter

    from reader_spark.operators import curation as CU

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"])
        for r in CU.duplicate_spans(df, width=width).collect()
    }

    toks = {i: t.split(" ") for i, t in enumerate(docs)}
    counts = Counter()
    spans = {}
    for i, ws in toks.items():
        spans[i] = []
        for s in range(len(ws) - width + 1):
            g = tuple(ws[s : s + width])
            spans[i].append((s, g))
            counts[g] += 1
    for i, ws in toks.items():
        dup = sorted(s for s, g in spans[i] if counts[g] > 1)
        covered, end = 0, -1
        for s in dup:
            lo = max(s, end)
            covered += max(0, s + width - lo)
            end = max(end, s + width)
        assert got[i] == (len(ws), covered), (i, docs[i])


@given(
    base=st.text("ABC0123456789", min_size=4, max_size=12),
    pos=st.integers(0, 50),
    repl=st.sampled_from("XYZ"),
)
@SET
def test_deletion_blocking_finds_every_single_substitution(
    spark, base, pos, repl
):
    """Any pair at substitution distance exactly 1 shares the wildcard
    key of its differing position — record_linkage must always find
    it, wherever the edit lands (the r5 completeness contract)."""
    from reader_spark.queries import _record_linkage_frame

    pos = pos % len(base)
    if base[pos] == repl:
        repl = "Q"
    typo = base[:pos] + repl + base[pos + 1:]
    cust = spark.createDataFrame(
        [(1, base, 1.0), (2, typo, 2.0), (3, "Z" * (len(base) + 3), 3.0)],
        "c_custkey long, c_name string, c_acctbal double",
    )
    got = {(r["cust_a"], r["cust_b"]) for r in _record_linkage_frame(cust).collect()}
    assert (1, 2) in got


@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),        # key
            st.integers(1, 50),                  # seq
            st.sampled_from(["c", "u", "d"]),   # op
        ),
        min_size=1, max_size=12,
        unique_by=lambda t: (t[0], t[1]),
    ),
)
@SET
def test_scd2_intervals_chain_and_never_overlap(spark, events, tmp_path_factory):
    """SCD2 invariants under arbitrary change sequences: per key the
    intervals are seq-ordered and chained (each eff_to == next
    eff_from), at most one open row, and one row per non-delete
    change."""
    from reader_spark.operators.transfer import TransferWriter

    tw = TransferWriter(
        spark, str(tmp_path_factory.mktemp("scd2prop"))
    )
    changes = spark.createDataFrame(
        [(k, f"v{s}", s, op) for k, s, op in events],
        "id string, val string, seq long, op string",
    )
    tw.upsert_scd2("t", changes, ["id"], "seq")
    rows = tw.read("t").collect()
    n_nondelete = sum(1 for _, _, op in events if op != "d")
    assert len(rows) == n_nondelete
    from collections import defaultdict

    by_key = defaultdict(list)
    for r in rows:
        by_key[r["id"]].append((r["eff_from"], r["eff_to"]))
    for key, ivals in by_key.items():
        ivals.sort()
        opens = [iv for iv in ivals if iv[1] is None]
        assert len(opens) <= 1
        key_events = sorted(s for k, s, _ in events if k == key)
        for (f1, t1), (f2, _t2) in zip(ivals, ivals[1:]):
            assert t1 is not None and t1 <= f2  # ordered, no overlap
            # chained: the closer is the key's next event
            nxt = min(s for s in key_events if s > f1)
            assert t1 == nxt


@given(
    counts=st.dictionaries(
        st.text("abcde", min_size=1, max_size=4),
        st.integers(1, 30),
        min_size=1, max_size=10,
    ),
)
@SET
def test_count_min_never_underestimates(spark, counts):
    from reader_spark.operators import sketches as SK

    toks = spark.createDataFrame(
        [(t,) for t, n in counts.items() for _ in range(n)],
        "term string",
    )
    tiles = SK.count_min_tiles(toks, width=16, depth=3)
    probe = spark.createDataFrame(
        [(t,) for t in counts], "term string"
    )
    est = {
        r["term"]: r["cms_est"]
        for r in SK.count_min_estimate(tiles, probe, width=16, depth=3).collect()
    }
    for t, n in counts.items():
        assert est[t] >= n  # CMS upper-bound contract


# ---------------------------------------------------------------------------
# DDL lexical layer: generated adversarial statements must round-trip


_COL_NAME = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True)
_LITERAL_BODY = st.text(
    alphabet="abz,()'`\"# *-/\\",
    min_size=0,
    max_size=12,
)
_COL_TAIL = st.sampled_from(
    [
        "INT",
        "VARCHAR(255)",
        "DECIMAL(10,2)",
        "TEXT",
        "INT NOT NULL",
    ]
)


def _sql_quote(body: str) -> str:
    """A valid single-quoted MySQL literal: backslashes and quotes
    escaped by doubling/backslash, arbitrary commas/parens kept."""
    return "'" + body.replace("\\", "\\\\").replace("'", "''") + "'"


@given(
    names=st.lists(_COL_NAME, min_size=1, max_size=5, unique=True),
    tails=st.lists(_COL_TAIL, min_size=5, max_size=5),
    lits=st.lists(_LITERAL_BODY, min_size=5, max_size=5),
    lit_at=st.lists(st.booleans(), min_size=5, max_size=5),
    comment=st.sampled_from(
        ["", "/* gh-ost */ ", "/*!40605 */ "]
    ),
)
@SET
def test_ddl_lexer_roundtrips_generated_column_lists(
    names, tails, lits, lit_at, comment
):
    """CREATE + ALTER ADD built from random column names, type tails,
    and adversarial DEFAULT/COMMENT literals (commas, parens, quote
    chars, comment openers) must register exactly the generated
    column names — the ANTLR-lexer guarantee the regex dispatcher
    re-implements by hand."""
    from reader_spark.streaming.schema_history import SchemaAdapter

    defs = []
    for i, name in enumerate(names):
        d = f"`{name}` {tails[i]}"
        if lit_at[i]:
            d += f" COMMENT {_sql_quote(lits[i])}"
        defs.append(d)
    ad = SchemaAdapter()
    assert ad.apply_ddl(
        comment + "CREATE TABLE t (" + ", ".join(defs) + ")", 1
    )
    assert ad.tables["t"] == names
    # the same defs arriving as one multi-spec ALTER ADD
    ad2 = SchemaAdapter()
    ad2.apply_ddl("CREATE TABLE t (seed int)", 1)
    assert ad2.apply_ddl(
        "ALTER TABLE t " + ", ".join(f"ADD COLUMN {d}" for d in defs), 2
    )
    assert ad2.tables["t"] == ["seed"] + names
    assert ad2.unmatched == []


@given(
    base_rows=st.dictionaries(
        st.integers(0, 30), st.integers(-100, 100), min_size=0, max_size=15
    ),
    change_ops=st.lists(
        st.tuples(
            st.integers(0, 30),                      # pk
            st.sampled_from(["c", "u", "d"]),        # op
            st.integers(-100, 100),                  # val in kept col
            st.integers(-100, 100),                  # val in new col
        ),
        min_size=0, max_size=15,
    ),
    drop_old=st.booleans(),
    add_new=st.booleans(),
)
@SET
def test_apply_changes_evolution_invariants(
    spark, base_rows, change_ops, drop_old, add_new
):
    """MERGE under arbitrary add/drop schema drift: the survivor set
    is exactly (base keys not in changes) + (keys whose terminal op
    isn't delete); evolved columns appear NULL-padded on the side
    that lacked them; no row and no column is ever lost."""
    from reader_spark.operators.transfer import apply_changes

    base = spark.createDataFrame(
        [(k, v, f"o{k}") for k, v in base_rows.items()] or [],
        "id long, a long, legacy string",
    )
    cols = "id long, a long, op string, seq long"
    rows = [(k, va, op, i) for i, (k, op, va, _vn) in enumerate(change_ops)]
    if drop_old:
        cols = "id long, op string, seq long"
        rows = [(k, op, i) for i, (k, op, _va, _vn) in enumerate(change_ops)]
    if add_new:
        cols = cols.replace(", op", ", extra long, op")
        idx = 2 if not drop_old else 1
        rows = [r[:idx] + (change_ops[i][3],) + r[idx:]
                for i, r in enumerate(rows)]
    changes = spark.createDataFrame(rows or [], cols)
    out = apply_changes(base, changes, ["id"], "seq")
    got = {r["id"]: r for r in out.collect()}
    # expected key set
    terminal = {}
    for i, (k, op, _va, _vn) in enumerate(change_ops):
        terminal[k] = op  # increasing seq: the last wins
    want = {k for k in base_rows if k not in terminal} | {
        k for k, op in terminal.items() if op != "d"
    }
    assert set(got) == want
    # column union preserved, never dropped
    expect_cols = {"id", "a", "legacy"} | ({"extra"} if add_new else set())
    assert set(out.columns) == expect_cols
    for k, r in got.items():
        if k in terminal:  # upserted row
            assert r["legacy"] is None  # changes never carried legacy
            if drop_old:
                assert r["a"] is None  # dropped upstream -> NULL
        else:  # carried-through base row
            assert r["legacy"] == f"o{k}" and r["a"] == base_rows[k]
            if add_new:
                assert r["extra"] is None  # evolved NULL on old rows


@given(
    ref_vals=st.lists(
        st.floats(-1000, 1000, allow_nan=False, allow_infinity=False),
        min_size=1, max_size=40,
    ),
    cur_vals=st.lists(
        st.floats(-2000, 2000, allow_nan=False, allow_infinity=False),
        min_size=0, max_size=40,
    ),
    dup=st.integers(1, 3),
    nb=st.integers(2, 8),
)
@SET
@pytest.mark.slow  # r13 tier: see pytest.ini
def test_drift_summary_invariants(spark, ref_vals, cur_vals, dup, nb):
    """Drift metrics are shares, not counts: duplicating every row of
    both sides k times changes nothing; TVD/L-inf live in [0, 1e6];
    identical snapshots read zero; no current row is ever dropped
    (out-of-range values clamp)."""
    from reader_spark.operators.curation import drift_summary

    ref = spark.createDataFrame([(v,) for v in ref_vals], "v double")
    cur = spark.createDataFrame(
        [(v,) for v in cur_vals] or [], "v double"
    )
    one = drift_summary(ref, cur, "v", n_buckets=nb).collect()[0]
    assert 0 <= one["tvd_ppm"] <= 1_000_000
    assert 0 <= one["linf_ppm"] <= 1_000_000
    assert one["n_ref"] == len(ref_vals)
    assert one["n_cur"] == len(cur_vals)  # clamped, never dropped
    refk = spark.createDataFrame(
        [(v,) for v in ref_vals for _ in range(dup)], "v double"
    )
    curk = spark.createDataFrame(
        [(v,) for v in cur_vals for _ in range(dup)] or [], "v double"
    )
    both = drift_summary(refk, curk, "v", n_buckets=nb).collect()[0]
    assert (both["tvd_ppm"], both["linf_ppm"], both["n_drifted_buckets"]) == (
        one["tvd_ppm"], one["linf_ppm"], one["n_drifted_buckets"]
    )
    same = drift_summary(ref, ref, "v", n_buckets=nb).collect()[0]
    assert same["tvd_ppm"] == 0 and same["linf_ppm"] == 0


@given(
    ops=st.lists(
        st.tuples(
            st.integers(0, 3),                      # key
            st.sampled_from(["c", "c", "u", "d", "t"]),  # op (t=TRUNCATE)
        ),
        min_size=1, max_size=16,
    ),
    batch_size=st.integers(4, 8),
)
@SET
def test_truncate_merge_matches_sequential_model(
    spark, ops, batch_size, tmp_path_factory
):
    """The merge pipeline's TRUNCATE handling under arbitrary op
    interleavings equals a sequential one-op-at-a-time model: within
    a batch, DML at-or-before the truncate's position is discarded
    and later DML applies — for ANY batching of the same op stream
    the final destination state is identical (the associativity the
    exactly-once story rests on)."""
    from reader_spark.operators.transfer import TransferWriter

    # sequential reference model over the full stream
    model: dict[int, str] = {}
    seq_ops = list(enumerate(ops, start=1))
    for s, (k, op) in seq_ops:
        if op == "t":
            model.clear()
        elif op == "d":
            model.pop(k, None)
        else:
            model[k] = f"v{s}"

    w = TransferWriter(spark, str(tmp_path_factory.mktemp("truncprop")))
    for i in range(0, len(seq_ops), batch_size):
        batch = seq_ops[i : i + batch_size]
        trunc_hi = max(
            (s for s, (_k, op) in batch if op == "t"), default=None
        )
        rows = [
            (str(k), f"v{s}", s, op)
            for s, (k, op) in batch
            if op != "t" and (trunc_hi is None or s > trunc_hi)
        ]
        if trunc_hi is not None and w.exists("t"):
            w.truncate("t")
        if rows:
            changes = spark.createDataFrame(
                rows, "id string, val string, seq long, op string"
            )
            w.upsert_bucketed("t", changes, ["id"], "seq", n_buckets=4)

    got = (
        {r["id"]: r["val"] for r in w.read("t").collect()}
        if w.exists("t")
        else {}
    )
    assert got == {str(k): v for k, v in model.items()}


@given(
    vecs=st.lists(
        st.lists(
            st.floats(-8, 8, allow_nan=False, width=32),
            min_size=4, max_size=4,
        ),
        min_size=1, max_size=12,
    ),
    shift=st.floats(0.06, 4.0, allow_nan=False),
)
@SET
@pytest.mark.slow  # r13 tier: see pytest.ini
def test_embedding_drift_invariants(spark, vecs, shift):
    """Embedding drift invariants under arbitrary vector waves: an
    identical wave reads zero delta on every dimension and never
    alarms; shifting every vector by a constant >= the alert cut on
    one dimension alarms with max_delta == that shift (rounded);
    wave sizes are reported exactly."""
    from reader_spark.operators import similarity as SIM

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "id long, embedding array<float>",
    )
    same = SIM.embedding_drift_summary(df, df, "embedding").collect()[0]
    assert not same["drifted"] and same["max_delta"] == 0.0
    assert same["n_ref"] == same["n_cur"] == len(vecs)

    shifted = df.select(
        "id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x + F.lit(float(shift)),
        ).alias("embedding"),
    )
    row = SIM.embedding_drift_summary(
        df, shifted, "embedding", alert_delta=0.05
    ).collect()[0]
    assert row["drifted"]
    assert abs(row["max_delta"] - shift) < 1e-5


@given(
    docsets=st.lists(
        st.lists(st.text("abcdef", min_size=1, max_size=4),
                 min_size=1, max_size=30),
        min_size=1, max_size=6,
    ),
    k=st.sampled_from([8, 16, 32]),
)
@SET
def test_oph_signature_matches_reference_model(spark, docsets, k):
    """oph_signature == a direct Python model of one-permutation
    hashing with rotation densification, for arbitrary token sets
    and signature widths: bucket i holds min{h : h % k == i}; an
    empty bucket borrows the nearest filled bucket to the RIGHT
    (circular) offset by distance * P; borrowed values are always
    >= P (disjoint from genuine minima). Guards the density logic
    against regressions the sample-bounded audits could miss."""
    import hashlib

    from reader_spark.operators import dedup as DD

    P = DD.MINHASH_P

    def h60(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % P

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docsets)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: [r[f"h{i}"] for i in range(k)]
        for r in DD.oph_signature(df, num_hashes=k).collect()
    }
    for doc_id, ws in enumerate(docsets):
        hs = sorted({h60(w) for w in set(ws)})
        mins: dict[int, int] = {}
        for h in hs:
            mins.setdefault(h % k, h)
        want = []
        for i in range(k):
            delta = min((p - i) % k for p in mins)
            want.append(mins[(i + delta) % k] + delta * P)
        assert got[doc_id] == want, (doc_id, ws)


@given(
    docsets=st.lists(
        st.lists(st.text("abcdef", min_size=1, max_size=4),
                 min_size=0, max_size=30),
        min_size=1, max_size=6,
    ),
    k=st.sampled_from([8, 16, 32]),
)
@SET
@pytest.mark.slow  # r13 tier: see pytest.ini
def test_arrow_signature_kernels_equal_expression_forms(spark, docsets, k):
    """The Arrow kernels (numpy mapInPandas) == the expression forms,
    bit for bit, for arbitrary token sets including EMPTY docs (all
    three must emit the same NULL/0 degenerate rows). One fixture
    run can't cover chunk boundaries and mixed-empty batches; random
    corpora can. (The OPH kernel is covered by the reference-model
    property above.)"""
    from kernel_oracles import minhash_signature_expr, simhash_expr

    from reader_spark.operators import dedup as DD

    rows = [(i, " ".join(ws) if ws else None) for i, ws in enumerate(docsets)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mh_e = minhash_signature_expr(df, num_hashes=k).orderBy("doc_id")
    mh_a = DD.minhash_signature(df, num_hashes=k).orderBy("doc_id")
    assert [tuple(r) for r in mh_e.collect()] == [
        tuple(r) for r in mh_a.collect()
    ], docsets
    sh_e = simhash_expr(df).orderBy("doc_id")
    sh_a = DD.simhash(df).orderBy("doc_id")
    assert [tuple(r) for r in sh_e.collect()] == [
        tuple(r) for r in sh_a.collect()
    ], docsets
