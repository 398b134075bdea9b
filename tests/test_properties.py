"""Property-based tests (hypothesis): randomized inputs against pure
Python oracles for the semantics the whole engine leans on.

The fixture-based suites pin behavior on designed shapes; these pin it
on shapes nobody designed — random event soups (nulls, bad ops,
deletes), random token distributions, random duplicate structures.
Each property keeps the generated input SMALL (a Spark action per
example is the cost ceiling) and the example count modest; shrinking
still gives a minimal counterexample on failure.

Oracles here are deliberately naive Python folds — independent of both
Spark and the DuckDB SQL used by the driver gate, so a bug shared by
the two fast paths can't hide.
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

import pyspark.sql.functions as F

PROP_SETTINGS = dict(
    deadline=None,  # Spark actions: seconds, not milliseconds
    max_examples=12,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
    # session-scoped SparkSession is intentionally shared across examples
    # (starting a JVM per example would be absurd); examples are
    # stateless apart from it
    print_blob=True,
)

# ---------------------------------------------------------------- P1: LWW

EVENT_SCHEMA = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp"
)

_BASE_TS = datetime.datetime(2025, 1, 1)

events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["insert", "update", "delete", "merge", "noop"]),  # 2 poison ops
        st.one_of(st.none(), st.sampled_from(["c0", "c1", "c2"])),
        st.one_of(st.none(), st.integers(min_value=0, max_value=2)),
        st.one_of(st.none(), st.sampled_from(["hello", "world", ""])),
    ),
    min_size=0,
    max_size=25,
)


def _lww_oracle(rows):
    """Naive Python replay: dead-letter split -> per-key max-LSN winner
    -> drop delete winners. Mirrors replay.dead_letter_predicate and
    current_state exactly, from first principles."""
    state = {}
    ok = [
        r
        for r in rows
        if r["op"] in ("insert", "update", "delete")
        and r["conv_id"] is not None
        and r["turn_idx"] is not None
        and r["lsn"] is not None
        and not (r["op"] != "delete" and r["text"] is None)
    ]
    for r in ok:
        key = (r["conv_id"], r["turn_idx"])
        if key not in state or r["lsn"] > state[key]["lsn"]:
            state[key] = r
    return {
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["lsn"])
        for r in state.values()
        if r["op"] != "delete"
    }


def _event_rows(data):
    """(op, conv, turn, text) tuples -> WAL row dicts with positional
    LSNs/timestamps — the one place the event shape lives (used by the
    replay, merge, time-travel, maintenance, pipeline and Kafka
    properties; keep in sync with EVENT_SCHEMA)."""
    return [
        {
            "lsn": i,
            "op": op,
            "conv_id": conv,
            "turn_idx": turn,
            "role": "user",
            "text": text,
            "tool": None,
            "ts": _BASE_TS + datetime.timedelta(seconds=i),
        }
        for i, (op, conv, turn, text) in enumerate(data)
    ]


def _cdc_fields():
    from pyspark.sql import types as T

    return [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]


@settings(**PROP_SETTINGS)
@given(data=events_strategy, parts=st.integers(min_value=1, max_value=5))
def test_current_state_matches_python_oracle(spark, data, parts):
    """current_state == the naive Python fold, for ANY event soup
    (poison ops, null keys/payloads, deletes, any partitioning). LSNs
    are assigned uniquely by position — the documented WAL contract —
    so the winner per key is well-defined; partitioning must not
    matter because the fold is one keyed max_by."""
    from odibel_spark.cdc.replay import current_state

    rows = _event_rows(data)
    df = spark.createDataFrame(rows, EVENT_SCHEMA).repartition(parts)
    got = {
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["_lsn"])
        for r in current_state(df).collect()
    }
    assert got == _lww_oracle(rows)


# ------------------------------------------------------------ P2: packing

docs_strategy = st.lists(
    st.integers(min_value=0, max_value=90),  # token counts around max_tokens=50
    min_size=0,
    max_size=40,
)


@settings(**PROP_SETTINGS)
@given(tokens=docs_strategy, buckets=st.integers(min_value=1, max_value=4))
def test_pack_documents_invariants(spark, tokens, buckets):
    """For ANY token distribution: every document lands in exactly one
    pack; every pack's total fits max_tokens unless it is a single
    oversize document; oversize <=> n_tokens > max_tokens."""
    from odibel_spark.functions.packing import pack_documents

    max_tokens = 50
    rows = [(f"d{i:03d}", t) for i, t in enumerate(tokens)]
    df = spark.createDataFrame(rows, "doc_id string, n_tokens long")
    out = pack_documents(df, "doc_id", "n_tokens", max_tokens=max_tokens, buckets=buckets).collect()

    assert sorted(r["doc_id"] for r in out) == sorted(r[0] for r in rows)
    by_doc = {r["doc_id"]: r for r in out}
    for doc_id, t in rows:
        assert by_doc[doc_id]["oversize"] == (t > max_tokens)
    packs = {}
    for r in out:
        packs.setdefault((r["bucket"], r["pack_seq"]), []).append(r)
    for members in packs.values():
        total = sum(r["n_tokens"] for r in members)
        if total > max_tokens:
            # only legal as a single oversize document in its own pack
            assert len(members) == 1 and members[0]["oversize"]


# ------------------------------------------- P3: LSH collapse arm parity

corpus_strategy = st.lists(
    # texts from a tiny phrase pool -> guaranteed duplicate AND
    # near-duplicate structure at random rates
    st.sampled_from(
        [
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumps over the lazy cat",
            "pack my box with five dozen liquor jugs",
            "pack my box with five dozen water jugs",
            "sphinx of black quartz judge my vow",
        ]
    ),
    min_size=2,
    max_size=30,
)


@settings(**{**PROP_SETTINGS, "max_examples": 8})
@given(texts=corpus_strategy)
def test_lsh_collapse_arms_agree_on_random_corpora(spark, texts):
    """The collapse knob is a pure performance choice: for ANY random
    duplicate structure (no bucket overflow at this scale) the
    collapsed and uncollapsed arms — and therefore whatever arm the
    auto probe picks — produce the identical candidate pair set."""
    from odibel_spark.functions import dedup as D

    docs = spark.createDataFrame(
        [(f"d{i:03d}", t) for i, t in enumerate(texts)], "doc_id string, text string"
    )

    def pairs(df):
        return {(r["id_a"], r["id_b"]) for r in df.collect()}

    with_c = pairs(
        D.minhash_lsh_candidates(docs, "doc_id", "text", n=2, k=8, bands=4, collapse=True)
    )
    without_c = pairs(
        D.minhash_lsh_candidates(docs, "doc_id", "text", n=2, k=8, bands=4, collapse=False)
    )
    assert with_c == without_c


# --------------------------------------- P4: temporal windows + snapshot

versioned_strategy = st.lists(
    st.tuples(
        st.sampled_from(["k0", "k1", "k2"]),
        st.integers(min_value=0, max_value=30),  # ts (also drives version order)
    ),
    min_size=0,
    max_size=20,
    unique=True,  # (key, ts) unique -> versions unique per key
)


@settings(**PROP_SETTINGS)
@given(data=versioned_strategy, t=st.integers(min_value=-1, max_value=32))
def test_snapshot_at_matches_python_interval_oracle(spark, data, t):
    """SCD-2 windows + point query vs a first-principles Python fold:
    for ANY change feed and ANY query time, the rows valid at t are
    exactly one per key that has an event at or before t (the key's
    latest such event — half-open [ts, next_ts) intervals, the last
    window open-ended)."""
    from odibel_spark.operators.temporal import build_temporal_windows, snapshot_at

    rows = [(k, ts, ts, f"v-{k}-{ts}") for k, ts in data]
    df = spark.createDataFrame(rows, "key string, version long, ts long, val string")
    win = build_temporal_windows(df, ["key"], "version", "ts", value_cols=["val"])
    got = {(r["key"], r["val"]) for r in snapshot_at(win, t).collect()}

    expected = set()
    by_key = {}
    for k, ts in data:
        by_key.setdefault(k, []).append(ts)
    for k, tss in by_key.items():
        valid = [ts for ts in sorted(tss) if ts <= t]
        if valid:
            expected.add((k, f"v-{k}-{valid[-1]}"))
    assert got == expected


# ------------------------------------------------- P5: snapshot full diff

state_strategy = st.dictionaries(
    st.sampled_from(["a", "b", "c", "d"]),
    st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
    max_size=4,
)


@settings(**PROP_SETTINGS)
@given(cur=state_strategy, prev=state_strategy)
def test_snapshot_diff_matches_python_dict_oracle(spark, cur, prev):
    """Full-outer snapshot diff vs plain dict comparison, including the
    null-aware payload equality (null == null counts as unchanged)."""
    from odibel_spark.operators.diff import snapshot_diff

    schema = "key string, val int"
    cur_df = spark.createDataFrame(list(cur.items()), schema)
    prev_df = spark.createDataFrame(list(prev.items()), schema)
    got = {
        r["key"]: (r["diff"], r["changed"])
        for r in snapshot_diff(cur_df, prev_df, ["key"]).collect()
    }

    expected = {}
    for k in set(cur) | set(prev):
        if k not in prev:
            expected[k] = (1, None)
        elif k not in cur:
            expected[k] = (-1, None)
        else:
            expected[k] = (0, cur[k] != prev[k])
    assert got == expected


# ---------------------------------------------------- P6: as-of join

asof_strategy = st.tuples(
    st.lists(  # states: (key, ts, value-id) — (key, ts) unique so the
        # "latest visible state" is well-defined
        st.tuples(st.sampled_from(["k0", "k1"]), st.integers(min_value=0, max_value=20)),
        max_size=12,
        unique=True,
    ),
    st.lists(  # queries: (key, ts) — duplicates allowed
        st.tuples(st.sampled_from(["k0", "k1"]), st.integers(min_value=-1, max_value=21)),
        max_size=10,
    ),
)


@settings(**PROP_SETTINGS)
@given(data=asof_strategy)
def test_as_of_join_matches_python_oracle(spark, data):
    """For ANY state history and query times: each query row carries
    the latest state of its key with state_ts <= query_ts (ties at the
    exact timestamp visible), NULL when no state precedes it."""
    from odibel_spark.operators.temporal import as_of_join

    states, queries_rows = data
    sdf = spark.createDataFrame(
        [(k, ts, f"s-{k}-{ts}") for k, ts in states], "key string, sts long, sval string"
    )
    qdf = spark.createDataFrame(queries_rows, "key string, qts long")
    got = sorted(
        (r["key"], r["qts"], r["sval"])
        for r in as_of_join(qdf, sdf, ["key"], "qts", "sts", ["sval"]).collect()
    )

    expected = []
    for k, qt in queries_rows:
        visible = [ts for (sk, ts) in states if sk == k and ts <= qt]
        expected.append((k, qt, f"s-{k}-{max(visible)}" if visible else None))
    assert got == sorted(expected)


# ------------------------------------------------- P7: change flux

windows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=-7200, max_value=7200),  # t_start (negatives probe floor)
        st.one_of(st.none(), st.integers(min_value=-7200, max_value=7200)),  # t_end; None=open
    ),
    max_size=15,
)


@settings(**PROP_SETTINGS)
@given(wins=windows_strategy)
def test_change_flux_matches_python_bucket_oracle(spark, wins):
    """Bucketed open/close counts vs Python floor arithmetic — the
    negative-timestamp range pins that Spark's floor(x / bucket) and
    Python's // agree (truncation would shift pre-epoch buckets), and
    open windows (sentinel t_end) must never emit a close."""
    from odibel_spark.operators.temporal import OPEN_END, change_flux

    rows = [(ts, OPEN_END if te is None else te) for ts, te in wins]
    df = spark.createDataFrame(rows, "t_start long, t_end long")
    got = {r["bucket"]: (r["n_open"], r["n_close"]) for r in change_flux(df, bucket_s=3600).collect()}

    buckets = {}
    for ts, te in rows:
        b = (ts // 3600) * 3600
        o, c = buckets.get(b, (0, 0))
        buckets[b] = (o + 1, c)
        if te != OPEN_END:
            b2 = (te // 3600) * 3600
            o2, c2 = buckets.get(b2, (0, 0))
            buckets[b2] = (o2, c2 + 1)
    assert got == buckets


# ----------------------------------------------- P8: token counting

text_strategy = st.text(
    alphabet=st.sampled_from(list("ab c\t\n.!?")), max_size=40
)


@settings(**PROP_SETTINGS)
@given(texts=st.lists(text_strategy, min_size=1, max_size=15))
def test_token_count_matches_python_split(spark, texts):
    """Whitespace token_count == Python str.split() length for ANY
    ASCII whitespace/punctuation soup (blank text counts 0 — split()
    gives [] there, so the oracle is literally len(t.split())). The
    alphabet is deliberately ASCII: the engine's \\S is ASCII-only on
    both the Spark and DuckDB sides (documented in token_count), while
    Python's split() also breaks on Unicode whitespace — equivalence
    holds only on the ASCII subset, which is what this pins."""
    from odibel_spark.functions.text import token_count

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, text string")
    got = {r["id"]: r["n"] for r in df.select("id", token_count(F.col("text")).alias("n")).collect()}
    assert got == {i: len(t.split()) for i, t in enumerate(texts)}


# ----------------------------------------- P9: n-gram Jaccard pairs


def _py_shingles(text: str, n: int) -> set[str]:
    """Python mirror of normalized_text -> _split_words ->
    _shingles_from_words: lower, strip non-word/space chars, collapse
    whitespace, word n-grams — documents shorter than n words yield
    their whole word list as the one (short) shingle, empty strings
    are dropped."""
    import re as _re

    t = _re.sub(r"[^\w\s]", "", text.lower())
    t = _re.sub(r"\s+", " ", t).strip()
    words = t.split(" ") if t else [""]
    out = {
        " ".join(words[i : i + n]) for i in range(max(len(words) - n + 1, 1))
    }
    return {s for s in out if s}


jaccard_corpus_strategy = st.lists(
    st.text(alphabet=st.sampled_from(list("ab d.! \t")), max_size=25),
    min_size=2,
    max_size=10,
)


@settings(**{**PROP_SETTINGS, "max_examples": 10})
@given(texts=jaccard_corpus_strategy, threshold=st.sampled_from([0.0, 0.3, 0.8]))
def test_ngram_jaccard_matches_python_set_oracle(spark, texts, threshold):
    """ngram_jaccard_pairs == brute-force Python set Jaccard over every
    pair, at any threshold — including the short-document edge (fewer
    words than the shingle width) and documents normalizing to empty."""
    from odibel_spark.functions.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(f"d{i:02d}", t) for i, t in enumerate(texts)], "doc_id string, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=threshold).collect()
    }

    sh = {f"d{i:02d}": _py_shingles(t, 2) for i, t in enumerate(texts)}
    ids = sorted(sh)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue  # no shared shingle -> no join row at all
            j = round(inter / len(sh[a] | sh[b]), 6)
            if j >= threshold:
                expected[(a, b)] = j
    assert got.keys() == expected.keys()
    for k in expected:
        assert got[k] == pytest.approx(expected[k], abs=1e-9)


# ------------------------------------------------ P10: benchmark splits


@settings(**{**PROP_SETTINGS, "max_examples": 10})
@given(
    n_rows=st.integers(min_value=0, max_value=40),
    parts=st.integers(min_value=1, max_value=5),
    ratios=st.sampled_from(
        [{"train": 0.8, "test": 0.2}, {"a": 0.5, "b": 0.3, "c": 0.2}, {"all": 1.0}]
    ),
)
def test_create_splits_partitions_deterministically(spark, n_rows, parts, ratios):
    """Splits are a PARTITION of the input (disjoint, covering) and
    membership is identical across partitionings — the determinism
    randomSplit does not give."""
    from odibel_spark.api import create_splits

    df = spark.createDataFrame([(f"r{i:03d}",) for i in range(n_rows)], "doc_id string")

    def members(d):
        out = {}
        for name, part in create_splits(d, ratios, ["doc_id"], seed=7).items():
            out[name] = {r["doc_id"] for r in part.collect()}
        return out

    m = members(df.repartition(parts))
    all_ids = {f"r{i:03d}" for i in range(n_rows)}
    assert set().union(*m.values()) == all_ids if m else n_rows == 0
    assert sum(len(v) for v in m.values()) == n_rows  # disjoint cover
    assert members(df.coalesce(1)) == m  # partitioning-invariant


# ---------------------------------------------- P11: interval marks


@settings(**PROP_SETTINGS)
@given(
    wins=st.lists(
        st.tuples(
            st.integers(min_value=-30, max_value=30),
            st.integers(min_value=-30, max_value=30),
        ),
        max_size=10,
    ),
    step=st.sampled_from([1, 3, 7]),
)
def test_interval_marks_matches_python_grid_oracle(spark, wins, step):
    """Every half-open window [s, e) yields exactly the global-grid
    marks m = k*step with s <= m < e — vs a brute-force Python range
    scan, including negative timestamps (ceil-division territory),
    empty windows (e <= s) and windows that straddle zero."""
    from odibel_spark.operators.temporal import interval_marks

    df = spark.createDataFrame(
        [(i, s, e) for i, (s, e) in enumerate(wins)], "win_id int, t_start long, t_end long"
    )
    got = sorted((r["win_id"], r["mark"]) for r in interval_marks(df, step_s=step).collect())

    expected = sorted(
        (i, m)
        for i, (s, e) in enumerate(wins)
        for m in range(-40 * step, 40 * step + 1)
        if m % step == 0 and s <= m < e
    )
    assert got == expected


# ------------------------------------------- P12: seeded sampling


@settings(**{**PROP_SETTINGS, "max_examples": 8})
@given(
    n_rows=st.integers(min_value=0, max_value=30),
    n=st.integers(min_value=0, max_value=35),
    parts=st.integers(min_value=1, max_value=5),
)
def test_seeded_sample_is_partitioning_invariant(spark, n_rows, n, parts):
    """seeded_sample returns the same min(n, rows) rows regardless of
    physical partitioning — the determinism contract the rdf2 sampler
    family is built on (an engine-reproducible orderBy-hash + limit,
    not partition-dependent sampling)."""
    from odibel_spark.operators.relational import seeded_sample

    df = spark.createDataFrame([(f"r{i:03d}",) for i in range(n_rows)], "id string")
    a = {r["id"] for r in seeded_sample(df.repartition(parts), n, seed=13).collect()}
    b = {r["id"] for r in seeded_sample(df.coalesce(1), n, seed=13).collect()}
    assert a == b
    assert len(a) == min(n, n_rows)


# ------------------------------------- P13: MERGE batch convergence


@settings(**{**PROP_SETTINGS, "max_examples": 6})
@given(
    data=events_strategy,
    cuts=st.lists(st.integers(min_value=0, max_value=24), max_size=2, unique=True),
    order=st.permutations([0, 1, 2]),
    fold=st.booleans(),
)
def test_merge_converges_for_any_batching_and_order(spark, data, cuts, order, fold):
    """The CDC MERGE's core claim, property-stated: split ANY event
    soup at ANY batch boundaries, apply the batches in ANY order —
    the table converges to the batch-replay LWW oracle (LSN fencing
    makes stale batches harmless), and re-applying a batch afterwards
    changes nothing (idempotence). ``fold`` covers both postures:
    ``True`` = copy-on-write (per-batch pre-fold + rewrite at merge
    time), ``False`` = merge-on-read (raw delta appends folded by
    ``read()`` — the only table kind where skipping the pre-fold is
    sound; ``merge_upsert`` raises on the CoW combination)."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from odibel_spark.cdc.replay import split_dead_letters
    from odibel_spark.lake.merge import create_cdc_table, merge_upsert
    from odibel_spark.lake.table import BucketSpec

    rows = _event_rows(data)
    bounds = sorted(set(cuts) | {len(rows)})
    batches, lo = [], 0
    for hi in bounds:
        batches.append(rows[lo : min(hi, len(rows))])
        lo = min(hi, len(rows))
    batches = [b for b in batches if b] or [[]]
    fields = _cdc_fields()
    root = tempfile.mkdtemp(prefix="odibel-prop-merge-")
    try:
        t = create_cdc_table(
            spark, root, fields, BucketSpec("conv_id", 4),
            key_cols=None if fold else ["conv_id", "turn_idx"],
            merge_mode="cow" if fold else "mor",
        )
        applied = []
        for bi in order:
            if bi >= len(batches):
                continue
            ok, _dead = split_dead_letters(spark.createDataFrame(batches[bi], EVENT_SCHEMA))
            merge_upsert(t, ok, ["conv_id", "turn_idx"], fold=fold)
            applied.append(bi)

        def state():
            return {
                (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["_lsn"])
                for r in t.read().collect()
            }

        assert state() == _lww_oracle(rows)
        if applied:  # replaying any already-applied batch is a no-op
            ok, _dead = split_dead_letters(spark.createDataFrame(batches[applied[0]], EVENT_SCHEMA))
            merge_upsert(t, ok, ["conv_id", "turn_idx"], fold=fold)
            assert state() == _lww_oracle(rows)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------------ P14: MinHash signature math


@settings(**{**PROP_SETTINGS, "max_examples": 8})
@given(
    texts=st.lists(
        st.text(alphabet=st.sampled_from(list("ab d ")), max_size=30), min_size=1, max_size=8
    )
)
def test_minhash_signatures_match_python_mirror(spark, texts):
    """The K-permutation MinHash is engine-portable by construction
    (md5-derived 32-bit shingle hash, affine permutations mod the
    Mersenne prime) — pin it against a from-scratch Python mirror on
    arbitrary text. Documents with zero shingles must have NO
    signature row."""
    import hashlib

    from odibel_spark.functions.dedup import MINHASH_P, minhash_signatures

    k, n = 8, 2
    docs = spark.createDataFrame(
        [(f"d{i:02d}", t) for i, t in enumerate(texts)], "doc_id string, text string"
    )
    got = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(k))
        for r in minhash_signatures(docs, "doc_id", "text", n=n, k=k).collect()
    }

    expected = {}
    for i, t in enumerate(texts):
        sh = _py_shingles(t, n)
        if not sh:
            continue
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in sh]
        expected[f"d{i:02d}"] = tuple(
            min((h * (2 * j + 1) + 7919 * (j + 1)) % MINHASH_P for h in hs) for j in range(k)
        )
    assert got == expected


# ------------------------------ P15: hyperplane signature math


@settings(**{**PROP_SETTINGS, "max_examples": 8})
@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-8, max_value=8).map(lambda i: i / 4.0),
            min_size=3,
            max_size=3,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_embedding_lsh_signatures_match_python_mirror(spark, vecs):
    """Hyperplane sign-bit signatures vs a Python mirror with the
    identical left-to-right dot fold — quarter-integer vectors make
    every dot product exact in binary floating point, so the sign at
    the 0 boundary is deterministic on both sides (dot >= 0 sets the
    bit)."""
    from odibel_spark.functions.dedup import embedding_lsh_signatures

    planes = [[1.0, -0.5, 0.25], [-0.75, 0.5, 1.0], [0.0, 1.0, -1.0]]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id int, embedding array<double>"
    )
    got = {r["vec_id"]: r["sig"] for r in embedding_lsh_signatures(emb, "vec_id", "embedding", planes).collect()}

    expected = {}
    for i, v in enumerate(vecs):
        sig = 0
        for p, plane in enumerate(planes):
            dot = 0.0
            for x, y in zip(v, plane):
                dot = dot + x * y
            if dot >= 0:
                sig += 2**p
        expected[i] = sig
    assert got == expected


# --------------------------------- P16: N-Triples roundtrip identity

_URI_CHARS = "abc0_-.:/#"
_LIT_CHARS = 'abc 0._:"\'!?,-'  # spaces, dots, quotes INSIDE literals

triple_strategy = st.tuples(
    st.text(alphabet=st.sampled_from(list(_URI_CHARS)), min_size=1, max_size=8),
    st.text(alphabet=st.sampled_from(list(_URI_CHARS)), min_size=1, max_size=8),
    st.one_of(
        st.text(alphabet=st.sampled_from(list(_URI_CHARS)), min_size=1, max_size=8).map(
            lambda s: f"<urn:o:{s}>"
        ),
        st.text(alphabet=st.sampled_from(list(_LIT_CHARS)), max_size=12).map(
            lambda s: f'"{s}"'
        ),
    ),
)


@settings(**{**PROP_SETTINGS, "max_examples": 8})
@given(triples=st.lists(triple_strategy, min_size=1, max_size=12))
def test_ntriples_roundtrip_identity(spark, triples):
    """serialize -> parse is the identity on any triple set within the
    documented model (reference-parity whitespace-split: terms are
    newline-free, s/p are single tokens, literals may contain spaces,
    interior dots, quotes — incl. literals ending in '.', the shape the
    terminator-strip regex must not over-eat)."""
    import shutil
    import tempfile

    from odibel_spark.sources.rdf import parse_ntriples, serialize_ntriples

    rows = [
        (f"<urn:s:{s}>", f"<urn:p:{p}>", o, o.startswith('"')) for s, p, o in triples
    ]
    df = spark.createDataFrame(rows, "s string, p string, o string, isLiteral boolean")
    d = tempfile.mkdtemp(prefix="odibel-prop-nt-")
    try:
        path = d + "/out.nt"
        serialize_ntriples(df, path, overwrite=True)
        got = sorted(
            (r["s"], r["p"], r["o"], r["isLiteral"])
            for r in parse_ntriples(spark, path).collect()
        )
        expected = sorted(rows)
        assert got == expected
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------- P17: remaining text-function mirrors


@settings(**{**PROP_SETTINGS, "max_examples": 10})
@given(
    texts=st.lists(
        st.text(alphabet=st.sampled_from(list("aB c1.!?,;' \t")), max_size=30),
        min_size=1,
        max_size=12,
    )
)
def test_text_function_python_mirrors(spark, texts):
    """bpe_ish_token_count, punct_ratio and document_fingerprint vs
    from-scratch Python mirrors on ASCII soups (mixed case, digits,
    punctuation runs, tabs) — the remaining oracle-critical text
    functions not covered by the token-count property."""
    import hashlib
    import re as _re

    from odibel_spark.functions.text import (
        bpe_ish_token_count,
        document_fingerprint,
        punct_ratio,
    )

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, text string")
    got = {
        r["id"]: (r["bpe"], r["punct"], r["fp"])
        for r in df.select(
            "id",
            bpe_ish_token_count(F.col("text")).alias("bpe"),
            punct_ratio(F.col("text")).alias("punct"),
            document_fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }

    for i, t in enumerate(texts):
        bpe = len(_re.findall(r"[a-z]+|[0-9]+|[^\w\s]", t.lower()))
        stripped = _re.sub(r"[\w\s]", "", t)
        punct = round(len(stripped) / max(len(t), 1), 6)
        norm = _re.sub(r"\s+", " ", _re.sub(r"[^\w\s]", "", t.lower())).strip(" ")
        fp = hashlib.md5(norm.encode()).hexdigest()
        assert got[i][0] == bpe, (t, got[i][0], bpe)
        assert got[i][1] == pytest.approx(punct, abs=1e-9), (t, got[i][1], punct)
        assert got[i][2] == fp, (t, got[i][2], fp)


# ----------------------------- P18: WAL schema discovery union


@settings(**{**PROP_SETTINGS, "max_examples": 8})
@given(
    # per file: a subset of a 5-column universe (name -> spark/pandas type)
    files=st.lists(
        st.sets(st.sampled_from(["a_str", "b_long", "c_double", "d_bool", "e_str"]), min_size=1),
        min_size=1,
        max_size=4,
    )
)
def test_discover_wal_schema_unions_any_file_shapes(spark, files):
    """Schema discovery over ANY mix of per-file column subsets yields
    exactly the union of columns with each column's declared type —
    first-seen-wins field order under the deterministic (sorted) file
    walk, matching mergeSchema's column set regardless of which files
    carry which generation's columns."""
    import shutil
    import tempfile

    from odibel_spark.cdc.evolution import discover_wal_schema

    types = {  # simpleString() names
        "a_str": "string",
        "b_long": "bigint",
        "c_double": "double",
        "d_bool": "boolean",
        "e_str": "string",
    }
    sample = {"a_str": "x", "b_long": 1, "c_double": 1.5, "d_bool": True, "e_str": "y"}
    d = tempfile.mkdtemp(prefix="odibel-prop-schema-")
    try:
        for i, cols in enumerate(files):
            cols = sorted(cols)
            row = tuple(sample[c] for c in cols)
            schema = ", ".join(f"{c} {types[c]}" for c in cols)  # DDL accepts bigint
            spark.createDataFrame([row], schema).coalesce(1).write.parquet(f"{d}/f{i:02d}")
        got = discover_wal_schema(spark, [d])
        assert {f.name: f.dataType.simpleString() for f in got.fields} == {
            c: types[c] for cols in files for c in cols
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --------------------------------- P19: time travel == prefix replay


@settings(**{**PROP_SETTINGS, "max_examples": 5})
@given(data=events_strategy, fold=st.booleans())
def test_time_travel_reads_equal_prefix_replay(spark, data, fold):
    """For ANY event soup split into batches applied IN ORDER: reading
    the table at each historical version equals the Python LWW oracle
    over the PREFIX of events applied up to that version — snapshot
    isolation stated as a property, on both CoW (``fold=True``) and
    MoR (``fold=False``, read-time folding) tables."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from odibel_spark.cdc.replay import split_dead_letters
    from odibel_spark.lake.merge import create_cdc_table, merge_upsert
    from odibel_spark.lake.table import BucketSpec

    rows = _event_rows(data)
    third = max(len(rows) // 3, 1)
    batches = [rows[i : i + third] for i in range(0, len(rows), third)] or [[]]
    fields = _cdc_fields()
    root = tempfile.mkdtemp(prefix="odibel-prop-tt-")
    try:
        t = create_cdc_table(
            spark, root, fields, BucketSpec("conv_id", 4),
            key_cols=None if fold else ["conv_id", "turn_idx"],
            merge_mode="cow" if fold else "mor",
        )
        versions = []  # (committed version, events applied so far)
        applied = 0
        for b in batches:
            ok, _dead = split_dead_letters(spark.createDataFrame(b, EVENT_SCHEMA))
            merge_upsert(t, ok, ["conv_id", "turn_idx"], fold=fold)
            applied += len(b)
            versions.append((t.current_version(), applied))
        for v, n_applied in versions:
            got = {
                (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["_lsn"])
                for r in t.read(version=v).collect()
            }
            assert got == _lww_oracle(rows[:n_applied]), (v, n_applied, fold)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------- P20: maintenance invariance + changelog replication


@settings(**{**PROP_SETTINGS, "max_examples": 5})
@given(data=events_strategy)
def test_maintenance_and_changelog_preserve_state(spark, data):
    """After ANY event soup lands in a MoR table: (a) compaction +
    vacuum must not change what read() returns, and (b) replaying the
    full changelog into a fresh table through the ordinary MERGE
    reproduces the state — the downstream-replication contract of
    changes(), held under random deletes/updates/poison."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from odibel_spark.cdc.replay import split_dead_letters
    from odibel_spark.lake.merge import create_cdc_table, merge_upsert
    from odibel_spark.lake.table import BucketSpec

    rows = _event_rows(data)
    half = max(len(rows) // 2, 1)
    fields = _cdc_fields()

    def state(t):
        return {
            (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["_lsn"])
            for r in t.read().collect()
        }

    root = tempfile.mkdtemp(prefix="odibel-prop-maint-")
    try:
        src = create_cdc_table(
            spark, root + "/src", fields, BucketSpec("conv_id", 4),
            key_cols=["conv_id", "turn_idx"], merge_mode="mor",
        )
        for b in (rows[:half], rows[half:]):
            ok, _dead = split_dead_letters(spark.createDataFrame(b, EVENT_SCHEMA))
            merge_upsert(src, ok, ["conv_id", "turn_idx"], fold=False)
        expected = _lww_oracle(rows)
        assert state(src) == expected

        # (b) changelog replication BEFORE maintenance (vacuum can
        # retire early commits' delta files past the retention window)
        dst = create_cdc_table(
            spark, root + "/dst", fields, BucketSpec("conv_id", 4),
            key_cols=["conv_id", "turn_idx"], merge_mode="mor",
        )
        feed = (
            src.changes(0)
            .withColumn(
                "op", F.when(F.col("_deleted"), F.lit("delete")).otherwise(F.lit("update"))
            )
            .withColumnRenamed("_lsn", "lsn")
            .drop("_deleted", "_commit_version")
        )
        merge_upsert(dst, feed, ["conv_id", "turn_idx"])
        assert state(dst) == expected

        # (a) compaction + vacuum are read-invisible
        from odibel_spark.lake.merge import compact_buckets

        compact_buckets(src)
        src.vacuum(keep_versions=1, grace_seconds=0.0)
        assert state(src) == expected
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------- P21: SimHash sketch mirror


@settings(**{**PROP_SETTINGS, "max_examples": 8})
@given(
    texts=st.lists(
        st.text(alphabet=st.sampled_from(list("ab c1.! ")), max_size=25), min_size=1, max_size=8
    )
)
def test_simhash_matches_python_mirror(spark, texts):
    """SimHash sketches vs a from-scratch Python mirror (md5-derived
    token hash, signed bit sums over the token MULTISET — duplicate
    tokens must count twice). Documents with no tokens after
    normalization emit no sketch row."""
    import hashlib
    import re as _re

    from odibel_spark.functions.dedup import simhash

    bits = 16
    docs = spark.createDataFrame(
        [(f"d{i:02d}", t) for i, t in enumerate(texts)], "doc_id string, text string"
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text", bits=bits).collect()}

    expected = {}
    for i, t in enumerate(texts):
        norm = _re.sub(r"\s+", " ", _re.sub(r"[^\w\s]", "", t.lower())).strip(" ")
        toks = [w for w in norm.split(" ") if w]
        if not toks:
            continue
        sums = [0] * bits
        for w in toks:
            h = int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
            for b in range(bits):
                sums[b] += 1 if (h >> b) & 1 else -1
        expected[f"d{i:02d}"] = sum(2**b for b in range(bits) if sums[b] > 0)
    assert got == expected


# ------------------------- P22: the full streaming pipeline itself


@settings(**{**PROP_SETTINGS, "max_examples": 4})
@given(data=events_strategy, mode=st.sampled_from(["cow", "mor"]))
def test_streaming_pipeline_matches_lww_oracle(spark, data, mode):
    """The whole engine, property-stated: write ANY event soup as WAL
    parquet, run the real streaming pipeline (schema discovery →
    watermarked dedup → dead-letter split → epoch-fenced MERGE), and
    the resulting lake table equals the naive Python LWW oracle — in
    both merge postures. The fixture streaming tests pin designed
    scenarios; this pins soups nobody designed (poison ops, null keys,
    whitespace payload edge shapes, delete-everything, empty WAL)."""
    import shutil
    import tempfile

    from odibel_spark.cdc import PipelineConfig, TranscriptCdcPipeline

    rows = _event_rows(data)
    base = tempfile.mkdtemp(prefix="odibel-prop-pipe-")
    try:
        wal = base + "/wal"
        spark.createDataFrame(rows, EVENT_SCHEMA).repartition(2).write.parquet(wal)
        p = TranscriptCdcPipeline(
            spark,
            PipelineConfig(
                wal_dirs=[wal], table_root=base + "/tbl",
                checkpoint_dir=base + "/ckpt", buckets=4, merge_mode=mode,
            ),
        )
        p.run_available()
        got = {
            (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["_lsn"])
            for r in p.table().read().collect()
        }
        assert got == _lww_oracle(rows)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------- P23: CSV write/read roundtrip


@settings(**{**PROP_SETTINGS, "max_examples": 8})
@given(
    cells=st.lists(
        st.tuples(
            st.text(alphabet=st.sampled_from(list('ab,"; \'x')), max_size=10),
            st.one_of(st.none(), st.text(alphabet=st.sampled_from(list('c," d')), max_size=8)),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_csv_roundtrip_identity(spark, cells):
    """write_csv -> read_csv is the identity for ANY cell soup of
    commas, quotes, spaces and NULLs (RFC-4180 doubled-quote escaping —
    the posture read_csv pins precisely because Spark's backslash
    default silently mis-parses standard CSV)."""
    import shutil
    import tempfile

    from odibel_spark.sources.csv_ingest import read_csv, write_csv

    from pyspark.sql import types as T

    rows = [(f"r{i:02d}", a, b) for i, (a, b) in enumerate(cells)]
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("a", T.StringType()),
            T.StructField("b", T.StringType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    d = tempfile.mkdtemp(prefix="odibel-prop-csv-")
    try:
        write_csv(df, d + "/out", n_files=1)
        back = read_csv(spark, d + "/out", schema=schema)
        got = sorted(map(tuple, back.collect()))
        # CSV has no NULL-vs-empty distinction for quoted empties: Spark
        # writes both NULL and "" as an empty field and reads an empty
        # field back as NULL — fold "" to NULL in the expectation (the
        # documented interchange semantics of header CSV).
        expected = sorted(
            (i, a if a != "" else None, b if b != "" else None) for i, a, b in rows
        )
        assert got == expected
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ----------------------------- P24: Kafka envelope decode roundtrip


@settings(**{**PROP_SETTINGS, "max_examples": 8})
@given(data=events_strategy, n_corrupt=st.integers(min_value=0, max_value=3))
def test_kafka_envelope_roundtrip_and_corrupt_rows(spark, data, n_corrupt):
    """encode_as_kafka -> decode_kafka_wal is the identity on the WAL
    columns for ANY event soup (null keys/payloads, quotes in text via
    the JSON escaping), and corrupt envelope values decode to
    NULL-payload rows — counted, never dropped (the dead-letter
    contract)."""
    import pyspark.sql.types as T

    from odibel_spark.sources.kafka import decode_kafka_wal, encode_as_kafka

    rows = _event_rows(data)
    wal_schema = T.StructType.fromDDL(EVENT_SCHEMA)
    events = spark.createDataFrame(rows, EVENT_SCHEMA)
    enveloped = encode_as_kafka(events)
    corrupt = spark.createDataFrame(
        [(None, bytearray(b"{not json"), "transcript-wal", 0, 10**9 + i) for i in range(n_corrupt)],
        "key binary, value binary, topic string, partition int, offset long",
    ).withColumn("timestamp", F.current_timestamp())
    decoded = decode_kafka_wal(enveloped.unionByName(corrupt), wal_schema)

    got = sorted(
        (r["lsn"], r["op"], r["conv_id"], r["turn_idx"], r["text"], r["ts"])
        for r in decoded.collect()
        if r["lsn"] is not None
    )
    expected = sorted(
        (r["lsn"], r["op"], r["conv_id"], r["turn_idx"], r["text"], r["ts"]) for r in rows
    )
    assert got == expected
    n_null = decoded.filter(F.col("lsn").isNull() & F.col("op").isNull()).count()
    assert n_null == n_corrupt  # corrupt rows survive as NULL-payload rows
    assert decoded.count() == len(rows) + n_corrupt


# --------------------- P25: connected components vs union-find


@settings(**{**PROP_SETTINGS, "max_examples": 6})
@given(
    edges=st.lists(
        st.tuples(
            st.sampled_from([f"v{i}" for i in range(10)]),
            st.sampled_from([f"v{i}" for i in range(10)]),
        ),
        min_size=0,
        max_size=20,
    ),
    chain=st.integers(min_value=0, max_value=6),
)
def test_connected_components_match_union_find(spark, edges, chain):
    """BOTH distributed components algorithms (label propagation and
    alternating large/small-star) equal a first-principles union-find
    on ANY edge soup — self-loops, duplicate/reversed edges, isolated
    nodes, plus an appended chain (the worst case for label
    propagation's O(diameter) rounds). Representative = min vertex id,
    the reference's EntityCluster.representative contract."""
    from odibel_spark.operators.graph import connected_components, connected_components_star

    # chain c0-c1-...-cN stresses diameter; sharing "v0" with the soup
    # (when both exist) also exercises cross-shape merges
    all_edges = list(edges) + [(f"c{i}", f"c{i+1}") for i in range(chain)]
    if chain and edges:
        all_edges.append(("c0", "v0"))

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in all_edges:
        parent[find(a)] = find(b)
    expected = {}
    for v in parent:
        expected.setdefault(find(v), []).append(v)
    expected = {
        v: min(members) for members in expected.values() for v in members
    }

    df = spark.createDataFrame(all_edges or [("zzz", "zzz")], "src string, dst string")
    if not all_edges:
        df = df.limit(0)  # typed empty frame
    for algo in (connected_components, connected_components_star):
        got = {r["vertex"]: r["component"] for r in algo(df).collect()}
        assert got == expected, algo.__name__


# ------------------- P26: k-means assignment three-way parity


@settings(**{**PROP_SETTINGS, "max_examples": 6})
@given(
    data=st.data(),
    dim=st.integers(min_value=1, max_value=4),
    k=st.integers(min_value=1, max_value=5),
)
def test_kmeans_assignment_matches_python_oracle(spark, data, dim, k):
    """Both assignment shapes (literal-folded centers AND the one-row
    broadcast relation) equal a from-scratch Python mirror of the
    documented arithmetic — floor(x*scale+0.5) quantize, float divide,
    left-to-right squared-distance fold, ties to the smallest cluster
    id — on ANY vectors/centers, including exact-tie geometries
    (quarter-integer coordinates keep every step IEEE-exact in both
    engines)."""
    import math

    from odibel_spark.functions.kmeans import kmeans_assign

    quarter = st.integers(min_value=-8, max_value=8).map(lambda n: n / 4.0)
    vec = st.lists(quarter, min_size=dim, max_size=dim)
    vecs = data.draw(st.lists(vec, min_size=1, max_size=8))
    centers = data.draw(st.lists(vec, min_size=k, max_size=k))

    scale = 1000

    def assign_py(v):
        dv = [math.floor(x * float(scale) + 0.5) / float(scale) for x in v]
        best = None
        for j, cen in enumerate(centers):
            s = 0.0
            for x, c in zip(dv, cen):
                s = s + (x - c) * (x - c)
            if best is None or s < best[0]:  # strict: ties keep smallest j
                best = (s, j)
        return best[1]

    expected = {f"v{i:02d}": assign_py(v) for i, v in enumerate(vecs)}
    df = spark.createDataFrame(
        [(f"v{i:02d}", v) for i, v in enumerate(vecs)], "id string, emb array<double>"
    )
    for method in ("literal", "broadcast"):
        got = {
            r["id"]: r["cluster"]
            for r in kmeans_assign(df, centers, "id", "emb", method=method).collect()
        }
        assert got == expected, method


# ----------------- P27: SCD-2 window builder vs Python fold


@settings(**{**PROP_SETTINGS, "max_examples": 8})
@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["k0", "k1", "k2"]),
            st.integers(min_value=-5, max_value=40),  # version
            st.integers(min_value=-100, max_value=100),  # ts, any order
        ),
        min_size=0,
        max_size=25,
        unique_by=lambda e: (e[0], e[1]),  # WAL contract: versions unique per key
    ),
    parts=st.integers(min_value=1, max_value=4),
)
def test_temporal_windows_match_python_scd2_fold(spark, events, parts):
    """build_temporal_windows == a first-principles SCD-2 fold for ANY
    change feed with per-key-unique versions: each event's window is
    closed by the key's NEXT version (by version order, not arrival or
    timestamp order — out-of-order timestamps just produce inverted
    [t_start, t_end) spans, faithfully), the last stays open at the
    OPEN_END sentinel, and input partitioning is irrelevant."""
    from odibel_spark.operators.temporal import OPEN_END, build_temporal_windows

    expected = set()
    by_key = {}
    for k, v, ts in events:
        by_key.setdefault(k, []).append((v, ts))
    for k, evs in by_key.items():
        evs.sort()
        for (v, ts), nxt in zip(evs, evs[1:] + [None]):
            v_end, t_end = (nxt[0], nxt[1]) if nxt else (None, OPEN_END)
            expected.add((k, v, v_end, ts, t_end))

    df = spark.createDataFrame(
        events or [("zzz", 0, 0)], "key string, version int, ts long"
    )
    if not events:
        df = df.limit(0)
    got = {
        (r["key"], r["v_start"], r["v_end"], r["t_start"], r["t_end"])
        for r in build_temporal_windows(
            df.repartition(parts), ["key"], "version", "ts"
        ).collect()
    }
    assert got == expected


# ---------------- P28: exact cosine top-k + full-probe IVF parity


@settings(**{**PROP_SETTINGS, "max_examples": 6})
@given(data=st.data(), dim=st.integers(min_value=1, max_value=4))
def test_cosine_topk_matches_python_and_full_probe_ivf(spark, data, dim):
    """cosine_top_k == a Python mirror of its exact arithmetic —
    left-to-right dot/norm folds (bit-identical IEEE ops on
    quarter-integer vectors), Spark's HALF_UP round to 6 places, ties
    broken by ascending id — and ivf_top_k_trained probing ALL lists
    degenerates to the same exact result (the pruning is the only
    approximation in the IVF path)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from odibel_spark.functions.kmeans import kmeans_assign
    from odibel_spark.functions.similarity import cosine_top_k, ivf_top_k_trained

    quarter = st.integers(min_value=-8, max_value=8).map(lambda n: n / 4.0)
    # at least one nonzero coordinate: zero-norm rows/queries divide to
    # NaN, whose ordering is engine lore, not the contract under test
    nonzero_vec = st.lists(quarter, min_size=dim, max_size=dim).filter(
        lambda v: any(x != 0.0 for x in v)
    )
    vecs = data.draw(st.lists(nonzero_vec, min_size=1, max_size=10))
    query = data.draw(nonzero_vec)
    k = data.draw(st.integers(min_value=1, max_value=6))

    def cos_py(v):
        dot = nv = 0.0
        for x, y in zip(v, query):
            dot = dot + x * y
        for x in v:
            nv = nv + x * x
        nq = 0.0
        for y in query:
            nq = nq + y * y
        c = dot / (math.sqrt(nv) * math.sqrt(nq))
        # Spark round() on double: shortest-repr decimal, HALF_UP
        return float(Decimal(repr(c)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))

    rows = [(f"v{i:02d}", v) for i, v in enumerate(vecs)]
    scored = sorted(((cos_py(v), i) for i, v in rows), key=lambda t: (-t[0], t[1]))
    expected = [(i, c) for c, i in scored[:k]]

    df = spark.createDataFrame(rows, "id string, emb array<double>")
    got = [(r["id"], r["cosine"]) for r in cosine_top_k(df, query, "id", "emb", k=k).collect()]
    assert got == expected

    centers = data.draw(st.lists(nonzero_vec, min_size=1, max_size=3))
    clustered = kmeans_assign(df, centers, "id", "emb")
    full_probe = [
        (r["id"], r["cosine"])
        for r in ivf_top_k_trained(
            clustered, centers, query, "id", "emb", k=k, nprobe=len(centers)
        ).collect()
    ]
    assert full_probe == expected


# -------------- P29: exact packing assignment vs Python mirror


@settings(**{**PROP_SETTINGS, "max_examples": 8})
@given(
    tokens=st.lists(
        st.one_of(st.none(), st.integers(min_value=0, max_value=90)),
        min_size=0,
        max_size=30,
    ),
    buckets=st.integers(min_value=1, max_value=4),
    parts=st.integers(min_value=1, max_value=4),
)
def test_pack_documents_matches_python_mirror(spark, tokens, buckets, parts):
    """Beyond P2's invariants: the EXACT pack assignment equals a
    from-scratch mirror of the documented algorithm — md5-derived
    bucketing, doc-id-order greedy fold, overflow-starts-a-new-pack
    with the row-index guard (an oversize doc never shares with
    preceding zero-token docs; nothing joins its pack after), null
    token counts packed as zero — independent of input partitioning.
    This is the determinism the engine promises: same corpus, same
    parameters, identical assignment on any cluster size or engine."""
    import hashlib

    from odibel_spark.functions.packing import pack_documents

    cap = 50
    rows = [(f"d{i:03d}", t) for i, t in enumerate(tokens)]

    def bucket_of(doc_id):
        return int(hashlib.md5(doc_id.encode()).hexdigest()[:8], 16) % buckets

    expected = {}
    by_bucket = {}
    for doc_id, t in rows:
        by_bucket.setdefault(bucket_of(doc_id), []).append((doc_id, 0 if t is None else t))
    for b, docs in by_bucket.items():
        docs.sort()
        seq, acc = 0, 0
        for i, (doc_id, t) in enumerate(docs):
            if i > 0 and acc + t > cap:
                seq += 1
                acc = 0
            expected[doc_id] = (0 if t is None else t, b, seq, t is not None and t > cap)
            acc += t

    df = spark.createDataFrame(rows or [("zzz", 0)], "doc_id string, n_tokens long")
    if not rows:
        df = df.limit(0)
    got = {
        r["doc_id"]: (r["n_tokens"], r["bucket"], r["pack_seq"], r["oversize"])
        for r in pack_documents(
            df.repartition(parts), max_tokens=cap, buckets=buckets
        ).collect()
    }
    assert got == expected


# ------------ P30: incremental dedup vs full-composition mirror


@settings(**{**PROP_SETTINGS, "max_examples": 6})
@given(
    corpus=st.lists(
        st.sampled_from(
            [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy cat",
                "pack my box with five dozen liquor jugs",
                "sphinx of black quartz judge my vow",
                "",
            ]
        ),
        min_size=1,
        max_size=10,
    ),
    batch=st.lists(
        st.sampled_from(
            [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy RAT",
                "pack my box with five dozen liquor jugs",
                "completely unrelated novel content here",
                "",
            ]
        ),
        min_size=1,
        max_size=8,
    ),
    threshold=st.sampled_from([0.25, 0.75, 1.0]),
)
def test_incremental_dedup_matches_composition_mirror(spark, corpus, batch, threshold):
    """The whole incremental-dedup composition — fingerprint collapse
    to min-id representatives, MinHash signatures, banded buckets,
    candidate join, component-agreement estimator, threshold, new-side
    re-expansion — vs a from-scratch Python mirror, for ANY corpus/
    batch mix of duplicates, near-duplicates, novel and empty texts.
    Zero-shingle documents must be silently novel (no signature, no
    verdict row); corpus side stays collapsed with its group size."""
    import hashlib

    from odibel_spark.functions.dedup import MINHASH_P
    from odibel_spark.functions.dedup_incremental import (
        incremental_near_duplicates,
        minhash_index,
    )

    n, k, bands = 2, 8, 4
    rows_per_band = k // bands

    def norm_fp(t):
        import re as _re

        s = _re.sub(r"\s+", " ", _re.sub(r"[^\w\s]", "", t.lower())).strip(" ")
        return hashlib.md5(s.encode()).hexdigest()

    def sig_of(t):
        sh = _py_shingles(t, n)
        if not sh:
            return None
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in sh]
        return tuple(
            min((h * (2 * j + 1) + 7919 * (j + 1)) % MINHASH_P for h in hs) for j in range(k)
        )

    def collapse(rows):
        groups = {}
        for doc_id, t in rows:
            groups.setdefault(norm_fp(t), []).append((doc_id, t))
        return {
            min(i for i, _ in g): (g[0][1], [i for i, _ in g]) for g in groups.values()
        }  # rep -> (content, member ids); byte-identical content per group

    c_rows = [(f"c{i:02d}", t) for i, t in enumerate(corpus)]
    b_rows = [(f"b{i:02d}", t) for i, t in enumerate(batch)]
    c_reps = collapse(c_rows)
    b_reps = collapse(b_rows)

    expected = set()
    for nrep, (nt, nmembers) in b_reps.items():
        ns = sig_of(nt)
        if ns is None:
            continue
        for crep, (ct, cmembers) in c_reps.items():
            cs = sig_of(ct)
            if cs is None:
                continue
            shares_bucket = any(
                ns[b * rows_per_band : (b + 1) * rows_per_band]
                == cs[b * rows_per_band : (b + 1) * rows_per_band]
                for b in range(bands)
            )
            if not shares_bucket:
                continue
            est = sum(a == c for a, c in zip(ns, cs)) / float(k)
            if est >= threshold:
                for new_id in nmembers:
                    expected.add((new_id, crep, round(est, 9), len(cmembers)))

    idx = minhash_index(
        spark.createDataFrame(c_rows, "doc_id string, text string"), n=n, k=k, bands=bands
    )
    got = {
        (r["new_id"], r["corpus_id"], round(r["est_jaccard"], 9), r["corpus_dup_count"])
        for r in incremental_near_duplicates(
            spark.createDataFrame(b_rows, "doc_id string, text string"),
            idx, n=n, k=k, bands=bands, threshold=threshold,
        ).collect()
    }
    assert got == expected


# -------- P31: keyed streaming state vs Python fold, any batching


_P31_SEQ = [0]


@settings(**{**PROP_SETTINGS, "max_examples": 4})
@given(
    events=st.lists(
        st.tuples(
            st.one_of(st.none(), st.sampled_from(["c0", "c1", "c2"])),
            st.integers(min_value=0, max_value=50),  # lsn (duplicates allowed)
        ),
        min_size=1,
        max_size=20,
    ),
    cuts=st.lists(st.integers(min_value=1, max_value=19), max_size=3, unique=True),
)
def test_running_state_matches_python_fold_any_batching(spark, events, cuts):
    """The applyInPandasWithState running (LSN high-water mark, event
    count) operator, replayed one file per micro-batch over ANY event
    soup split at ANY boundaries: the latest emission per key — null
    keys included, which form their own state group — equals the naive
    Python fold, proving state survives arbitrary batch interleavings
    of the keys."""
    import os
    import shutil
    import tempfile

    from odibel_spark.streaming import running_turn_state

    _P31_SEQ[0] += 1
    sink = f"p31_state_{_P31_SEQ[0]}"
    root = tempfile.mkdtemp(prefix="odibel-prop-state-")
    try:
        bounds = sorted(set(cuts) | {len(events)})
        batches, lo = [], 0
        for hi in bounds:
            if events[lo : min(hi, len(events))]:
                batches.append(events[lo : min(hi, len(events))])
            lo = min(hi, len(events))
        wal = os.path.join(root, "wal")
        for i, b in enumerate(batches):
            spark.createDataFrame(b, "conv_id string, lsn long").coalesce(1).write.parquet(
                os.path.join(wal, f"f{i:02d}")
            )
        stream = (
            spark.readStream.schema("conv_id string, lsn long")
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", 1)
            .parquet(wal)
        )
        q = (
            running_turn_state(stream, "conv_id")
            .writeStream.format("memory").queryName(sink)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        # a key's emissions are monotone in both fields, so max = latest
        got = {
            r["conv_id"]: (r["applied_lsn_hwm"], r["n_events_total"])
            for r in spark.sql(
                f"SELECT conv_id, max(applied_lsn_hwm) applied_lsn_hwm, "
                f"max(n_events_total) n_events_total FROM {sink} GROUP BY conv_id"
            ).collect()
        }
        expected = {}
        for conv, lsn in events:
            hwm, n = expected.get(conv, (None, 0))
            expected[conv] = (lsn if hwm is None else max(hwm, lsn), n + 1)
        assert got == expected
    finally:
        spark.catalog.dropTempView(sink)
        shutil.rmtree(root, ignore_errors=True)


# ---------- P32: N-Triples parser robustness on arbitrary garbage


@settings(**{**PROP_SETTINGS, "max_examples": 8})
@given(
    lines=st.lists(
        st.text(
            alphabet=st.sampled_from(list('<>ab"é#. \t_:x9')),
            max_size=25,
        ),
        min_size=0,
        max_size=15,
    )
)
def test_ntriples_parser_robust_and_idempotent_on_garbage(spark, lines):
    """A web-scale RDF feed is dirty; the parser's contract on ANY byte
    soup (random bracket/quote/dot/comment/whitespace shreds): it never
    throws, every surviving row has non-empty s/p/o with no internal
    whitespace in s/p and no comment-prefixed s, and one
    parse -> serialize -> parse round trip is the identity on the
    survivors — dropping malformed lines is CONVERGENT, not lossy-again
    on its own output."""
    import os
    import shutil
    import tempfile

    from odibel_spark.sources.rdf import parse_ntriples, serialize_ntriples

    root = tempfile.mkdtemp(prefix="odibel-prop-nt-")
    try:
        src = os.path.join(root, "garbage.nt")
        with open(src, "w", encoding="utf-8") as f:
            f.write("\n".join(lines))
        parsed = parse_ntriples(spark, src)
        rows = [(r["s"], r["p"], r["o"], r["isLiteral"]) for r in parsed.collect()]
        for s, p, o, lit in rows:
            assert s and p and o, (s, p, o)
            assert not any(ch.isspace() for ch in s + p), (s, p)
            assert not s.startswith("#"), s
            assert lit == o.startswith('"'), (o, lit)

        out = os.path.join(root, "round.nt")
        serialize_ntriples(parsed, out)
        again = sorted(
            (r["s"], r["p"], r["o"], r["isLiteral"])
            for r in parse_ntriples(spark, out).collect()
        )
        assert again == sorted(rows)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------- P33: deterministic samplers' exact selection vs mirror


@settings(**{**PROP_SETTINGS, "max_examples": 8})
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g0", "g1", "g2"]),
            st.one_of(st.none(), st.integers(min_value=0, max_value=30)),
        ),
        min_size=0,
        max_size=25,
    ),
    k=st.integers(min_value=1, max_value=4),
    seed=st.integers(min_value=0, max_value=99),
    parts=st.integers(min_value=1, max_value=4),
)
def test_samplers_exact_selection_matches_md5_mirror(spark, rows, k, seed, parts):
    """top_k_per_group and seeded_sample pick EXACTLY the rows a Python
    mirror of the md5 rank key picks — including concat_ws's
    null-skipping (a null id contributes nothing to the key) — on any
    input partitioning. This is the reproducibility contract the
    samplers advertise: same seed, same selection, any engine, any
    cluster size."""
    import hashlib

    from odibel_spark.operators.relational import seeded_sample, top_k_per_group

    def rank_key(vid):
        parts_ = [str(seed)] + ([] if vid is None else [str(vid)])
        return hashlib.md5("\x1f".join(parts_).encode()).hexdigest()

    df = spark.createDataFrame(rows or [("zz", 0)], "g string, vid int")
    if not rows:
        df = df.limit(0)
    df = df.repartition(parts)

    def nsafe(t):  # sort (g, vid) tuples with None vids
        return (t[0], t[1] is None, t[1] if t[1] is not None else 0)

    by_group = {}
    for g, vid in rows:
        by_group.setdefault(g, []).append(vid)
    expected_topk = sorted(
        (
            (g, vid)
            for g, vids in by_group.items()
            for vid in sorted(vids, key=rank_key)[:k]
        ),
        key=nsafe,
    )
    got_topk = sorted(
        (
            (r["g"], r["vid"])
            for r in top_k_per_group(df, ["g"], k, seed=seed, id_cols=["vid"]).collect()
        ),
        key=nsafe,
    )
    assert got_topk == expected_topk

    # global sampler: the same key over BOTH columns, global order+limit
    def gkey(row):
        g, vid = row
        parts_ = [str(seed), g] + ([] if vid is None else [str(vid)])
        return hashlib.md5("\x1f".join(parts_).encode()).hexdigest()

    expected_sample = sorted(sorted(rows, key=gkey)[: 2 * k], key=nsafe)
    got_sample = sorted(
        ((r["g"], r["vid"]) for r in seeded_sample(df, 2 * k, seed=seed).collect()),
        key=nsafe,
    )
    assert got_sample == expected_sample


# -------------- P34: decontamination overlap semantics vs mirror


@settings(**{**PROP_SETTINGS, "max_examples": 6})
@given(
    corpus=st.lists(
        st.sampled_from(
            [
                "alpha beta gamma delta epsilon",
                "alpha beta gamma zeta",
                "one two three four five six",
                "beta gamma",
                "",
            ]
        ),
        min_size=1,
        max_size=8,
    ),
    bench=st.lists(
        st.sampled_from(["alpha beta gamma", "three four", "nothing shared here", ""]),
        min_size=1,
        max_size=4,
    ),
    min_shared=st.integers(min_value=1, max_value=3),
)
def test_contamination_matches_python_set_mirror(spark, corpus, bench, min_shared):
    """benchmark_contamination == distinct-shingle set intersection
    computed from first principles: pair (doc, bench) reported iff they
    share >= min_shared distinct word n-grams, with overlap_ratio =
    shared / doc's own shingle count (containment in the DOCUMENT — the
    decontamination direction) — zero-shingle docs and benchmarks
    silently absent."""
    from odibel_spark.functions.dedup import benchmark_contamination

    n = 2
    c_rows = [(f"d{i:02d}", t) for i, t in enumerate(corpus)]
    b_rows = [(f"q{i:02d}", t) for i, t in enumerate(bench)]

    expected = set()
    for did, dt in c_rows:
        dsh = _py_shingles(dt, n)
        if not dsh:
            continue
        for bid, bt in b_rows:
            bsh = _py_shingles(bt, n)
            shared = len(dsh & bsh)
            if shared >= min_shared:
                expected.add((did, bid, shared, len(dsh), round(shared / len(dsh), 6)))

    got = {
        (r["doc_id"], r["bench_id"], r["n_shared"], r["doc_shingles"], r["overlap_ratio"])
        for r in benchmark_contamination(
            spark.createDataFrame(c_rows, "doc_id string, text string"),
            spark.createDataFrame(b_rows, "bench_id string, text string"),
            n=n, min_shared=min_shared,
        ).collect()
    }
    assert got == expected


# ---------------- P35: stats-pruned range read == naive filter


@settings(**{**PROP_SETTINGS, "max_examples": 8})
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.sampled_from(["c0", "c1", "c2"]),
                st.integers(min_value=0, max_value=3),
                st.one_of(st.none(), st.integers(min_value=-5, max_value=40)),
            ),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=4,
    ),
    lo=st.one_of(st.none(), st.integers(min_value=-6, max_value=41)),
    hi=st.one_of(st.none(), st.integers(min_value=-6, max_value=41)),
    clustered=st.booleans(),
)
def test_range_pruned_read_equals_naive_filter(spark, batches, lo, hi, clustered):
    """``read(where_ranges=...)`` must be pure pruning: on ANY commit
    layout (random batches → random per-file bounds, null values whose
    rows no footer bound describes) and ANY half-open/closed/empty/
    inverted range, the result equals a naive Python filter of the full
    read — file skipping may only remove files the bounds PROVE empty
    for the range. Nulls: a bounded range excludes them (SQL
    comparison semantics); a fully open range is no filter at all and
    keeps them. ``clustered`` draws the other write layout: an
    unbucketed table whose commits range-repartition + sort on the
    range column (``cluster_by`` — nulls land in the first range
    partition, so null rows must still obey the same keep rule)."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from odibel_spark.lake.merge import create_cdc_table
    from odibel_spark.lake.table import BucketSpec, LakeTable

    fields = [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
    ]
    schema = "conv_id string, turn_idx int, _lsn long, _deleted boolean"
    root = tempfile.mkdtemp(prefix="odibel-prop-prune-")
    try:
        if clustered:
            t = LakeTable.create(
                spark, root,
                T.StructType(
                    fields
                    + [
                        T.StructField("_lsn", T.LongType(), True),
                        T.StructField("_deleted", T.BooleanType(), True),
                    ]
                ),
                properties={"stats_columns": ["_lsn"]},
            )
        else:
            t = create_cdc_table(
                spark, root, fields, BucketSpec("conv_id", 2),
                key_cols=["conv_id", "turn_idx"],
            )
        all_rows = []
        for i, b in enumerate(batches):
            rows = [(c, ti, lsn, False) for (c, ti, lsn) in b]
            all_rows += rows
            t.append(
                spark.createDataFrame(rows, schema),
                cluster_by=("_lsn",) if clustered else (),
                cluster_files=2 if clustered else None,
            )

        def keep(lsn):
            if lo is not None and (lsn is None or lsn < lo):
                return False
            if hi is not None and (lsn is None or lsn > hi):
                return False
            return True

        # a fully-open range keeps null-lsn rows, so the sort key must
        # tolerate None alongside ints
        key = lambda t3: (t3[0], t3[1], t3[2] is not None, t3[2] or 0)
        expected = sorted(
            ((c, ti, lsn) for (c, ti, lsn, _d) in all_rows if keep(lsn)), key=key
        )
        pruned = t.read(where_ranges={"_lsn": (lo, hi)})
        got = sorted(
            ((r["conv_id"], r["turn_idx"], r["_lsn"]) for r in pruned.collect()), key=key
        )
        assert got == expected
        if all_rows:
            assert set(pruned.inputFiles()) <= set(t.read().inputFiles())
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------- P36: MoR key-range-pruned fold read == filtered oracle


@settings(**{**PROP_SETTINGS, "max_examples": 6})
@given(
    data=events_strategy,
    cuts=st.lists(st.integers(min_value=0, max_value=24), max_size=2, unique=True),
    lo=st.one_of(st.none(), st.sampled_from(["c0", "c1", "c2"])),
    hi=st.one_of(st.none(), st.sampled_from(["c0", "c1", "c2"])),
)
def test_mor_key_range_pruned_fold_equals_filtered_oracle(spark, data, cuts, lo, hi):
    """The claim behind the merge-on-read fold guard: pruning a FOLD
    read by a merge-KEY range is sound on any delta layout, because
    every version of a key carries the key's values — no file holding
    a key's latest delta can be skipped while an older one survives.
    Property: random event soup merged as raw MoR deltas at random
    batch boundaries, then ``read(where_ranges={conv_id: (lo, hi)})``
    == the Python LWW oracle filtered to that range, for closed /
    half-open / empty / inverted ranges. A payload-column range on the
    same fold read must raise."""
    import shutil
    import tempfile

    from odibel_spark.cdc.replay import split_dead_letters
    from odibel_spark.lake.merge import create_cdc_table, merge_upsert
    from odibel_spark.lake.table import BucketSpec

    rows = _event_rows(data)
    bounds = sorted(set(cuts) | {len(rows)})
    batches, at = [], 0
    for b in bounds:
        batches.append(rows[at : min(b, len(rows))])
        at = min(b, len(rows))
    batches = [b for b in batches if b]
    root = tempfile.mkdtemp(prefix="odibel-prop-morrange-")
    try:
        t = create_cdc_table(
            spark, root, _cdc_fields(), BucketSpec("conv_id", 4),
            key_cols=["conv_id", "turn_idx"], merge_mode="mor",
        )
        for b in batches:
            ok, _dead = split_dead_letters(spark.createDataFrame(b, EVENT_SCHEMA))
            merge_upsert(t, ok, ["conv_id", "turn_idx"], fold=False)

        def keep(conv):
            return (lo is None or conv >= lo) and (hi is None or conv <= hi)

        expected = {e for e in _lww_oracle(rows) if keep(e[0])}
        got = {
            (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["_lsn"])
            for r in t.read(where_ranges={"conv_id": (lo, hi)}).collect()
        }
        assert got == expected
        if batches:
            with pytest.raises(ValueError, match="non-merge-key"):
                t.read(where_ranges={"text": (lo, hi)})
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ----- P37: double-range reads under NaN / inf / null parquet statistics


_DVALS = st.one_of(
    st.none(),
    st.sampled_from(
        [
            float("nan"),
            float("inf"),
            float("-inf"),
            -3.5,
            0.0,
            1.0,
            2.25,
            7.0,
            40.0,
            1e300,
        ]
    ),
)
_DBOUND = st.one_of(
    st.none(),
    st.sampled_from([float("-inf"), -4.0, 0.0, 1.0, 5.0, 40.0, float("inf")]),
)


@settings(**{**PROP_SETTINGS, "max_examples": 8})
@given(
    batches=st.lists(
        st.lists(_DVALS, min_size=0, max_size=24), min_size=1, max_size=3
    ),
    lo=_DBOUND,
    hi=_DBOUND,
)
def test_double_range_read_matches_spark_nan_order(spark, batches, lo, hi):
    """Range reads over a DOUBLE stats column on ANY commit layout must
    equal a naive filter under Spark's total order (NaN above +inf,
    nulls excluded by any bounded range, kept by the fully open one) —
    with parquet knobs forcing MULTI row-group files so NaN-poisoned
    footer statistics (a NaN-bearing group's max=NaN, later groups
    finite) hit the manifest fold: the exact shape where a naive
    min/max fold records a finite lying bound and pruning drops rows
    the residual filter keeps. This property (re)catches the NaN
    fold-away bug on shapes nobody designed."""
    import math
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from odibel_spark.lake.table import BucketSpec, LakeTable

    def rank(v):  # Spark double total order; bounds are never NaN
        return (2, 0.0) if math.isnan(v) else (1, v)

    def keep(v, lo, hi):
        if lo is None and hi is None:
            return True
        if v is None:
            return False
        if lo is not None and rank(v) < rank(lo):
            return False
        if hi is not None and rank(v) > rank(hi):
            return False
        return True

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    knobs = {
        "parquet.block.size": "64",
        "parquet.page.size": "64",
        "parquet.page.size.row.check.min": "1",
        "parquet.page.size.row.check.max": "1",
    }
    saved = {k: hconf.get(k) for k in knobs}
    for k, v in knobs.items():
        hconf.set(k, v)
    root = tempfile.mkdtemp(prefix="odibel-prop-nan-")
    try:
        t = LakeTable.create(
            spark,
            root,
            T.StructType(
                [
                    T.StructField("rid", T.StringType(), False),
                    T.StructField("score", T.DoubleType(), True),
                ]
            ),
            BucketSpec("rid", 1),  # one file per append: in-file row
            # order == input order, so the poisoned tail below lands
            # its NaN in a non-first row group deterministically
            properties={"stats_columns": ["score"]},
        )
        rows, n = [], 0
        # every example ends with a designed poisoned batch — NaN in a
        # MIDDLE row group (~7 rows/group under the knobs), finite
        # groups after it — so the fold-away shape exists in every
        # layout; the random batches explore everything else
        tail = [1.0] * 8 + [float("nan")] + [2.0] * 8
        for b in list(batches) + [tail]:
            batch = [(f"r{n + i:03d}", v) for i, v in enumerate(b)]
            n += len(b)
            rows += batch
            t.append(
                spark.createDataFrame(batch, "rid string, score double").coalesce(1)
            )
        def check(lo, hi):
            expected = {
                (rid, None if v is None else rank(v))
                for rid, v in rows
                if keep(v, lo, hi)
            }
            pruned = t.read(where_ranges={"score": (lo, hi)})
            got = {
                (r["rid"], None if r["score"] is None else rank(r["score"]))
                for r in pruned.collect()
            }
            assert got == expected, (lo, hi)
            if rows:
                assert set(pruned.inputFiles()) <= set(t.read().inputFiles())

        check(lo, hi)
        # deterministic probe maximally sensitive to the NaN fold-away:
        # score >= +inf keeps exactly the NaN and +inf rows, and any
        # file whose NaN folded away to a finite max gets pruned —
        # losing its NaN rows. Mutation-verified: disabling the
        # _file_meta NaN guard fails THIS probe on most examples,
        # while the drawn (lo, hi) alone rarely hits the shape.
        check(float("inf"), None)
    finally:
        for k, v in saved.items():
            hconf.set(k, v) if v is not None else hconf.unset(k)
        shutil.rmtree(root, ignore_errors=True)


# ------ P38: version_at binary search vs linear scan, duplicate stamps


@settings(**{**PROP_SETTINGS, "max_examples": 60})
@given(
    deltas=st.lists(
        # heavy on zero so same-millisecond commit runs (the classic
        # binary-search trap: the predicate plateaus) appear constantly
        st.sampled_from([0, 0, 0, 1, 2, 50]),
        min_size=0,
        max_size=11,
    ),
    probes=st.lists(st.integers(min_value=-3, max_value=600), max_size=4),
)
def test_version_at_matches_linear_scan_with_duplicate_stamps(deltas, probes):
    """``version_at``'s O(log n) manifest binary search must equal a
    naive linear scan ("latest version with committed_at_ms <= ts") on
    ANY monotone stamp chain — in particular chains where several
    commits share one millisecond (single-writer commits are fast
    enough for this to happen in practice; the designed fixture test
    only covers strictly increasing stamps). Duplicates plateau the
    search predicate, the shape where an off-by-one in the midpoint
    rounding silently resolves to the FIRST commit of a run instead of
    the last. Pure-filesystem: manifests are synthesized with chosen
    stamps, no Spark session touched (version_at never uses one)."""
    import json as _json
    import tempfile

    from odibel_spark.lake.table import LakeTable

    base = 100
    stamps = [base]
    for d in deltas:
        stamps.append(stamps[-1] + d)

    with tempfile.TemporaryDirectory(prefix="p38-vat-") as root:
        t = LakeTable(None, root)
        import os as _os

        _os.makedirs(t.meta_dir)
        for i, s in enumerate(stamps, start=1):
            with open(t._manifest_path(i), "w") as f:
                _json.dump({"version": i, "committed_at_ms": s}, f)

        def oracle(ts):
            winners = [i for i, s in enumerate(stamps, start=1) if s <= ts]
            return max(winners) if winners else None

        # probe every stamp, its neighbors, the drawn arbitrary points,
        # and far past the head — exhaustive around every plateau edge
        points = set(probes) | {stamps[-1] + 10_000}
        for s in stamps:
            points |= {s - 1, s, s + 1}
        for ts in sorted(points):
            want = oracle(ts)
            if want is None:
                with pytest.raises(ValueError, match="predates"):
                    t.version_at(ts)
            else:
                assert t.version_at(ts) == want, (ts, stamps)


# --------- P39: vacuum never touches the retained versions' data


@settings(**{**PROP_SETTINGS, "max_examples": 6})
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "overwrite", "rollback"]),
            st.lists(
                st.tuples(
                    st.sampled_from(["c0", "c1", "c2"]),
                    st.integers(min_value=0, max_value=3),
                ),
                min_size=0,
                max_size=3,
            ),
        ),
        min_size=1,
        max_size=4,
    ),
    keep=st.integers(min_value=1, max_value=3),
)
def test_vacuum_preserves_all_retained_version_reads(spark, ops, keep):
    """``vacuum(keep_versions=k)`` is the one operation that DELETES
    data, so its safety invariant gets a property, not just the two
    designed tests: on ANY random append/overwrite/rollback churn
    (overwrites are the file-unreferencing workload vacuum exists for;
    rollback heads re-reference OLD paths, which must count as live
    again) and ANY
    retention k, (a) no removed file is referenced by any of the last
    k manifests, (b) every retained version's read is byte-identical
    before and after vacuum, (c) every retained manifest's files
    still exist on disk, and (d) files referenced ONLY by versions
    older than the window really are deleted (a vacuum that removes
    nothing is trivially "safe" and useless). grace_seconds=0 so
    nothing hides behind the freshness guard — the manifest reference
    set alone must protect live data.

    Every example ends with a designed non-empty append followed by an
    overwrite: the one shape where version cur−1 references files that
    cur does not, so a vacuum that wrongly computes liveness from the
    head manifest alone (ignoring keep_versions) deletes a retained
    version's data. Mutation-verified: that exact mutant survives the
    random draws alone but fails with the designed tail."""
    import os as _os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from odibel_spark.lake.table import BucketSpec, LakeTable

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
        ]
    )
    root = tempfile.mkdtemp(prefix="odibel-prop-vac-")
    try:
        t = LakeTable.create(spark, root, schema, BucketSpec("conv_id", 2))
        for kind, rows in ops:
            if kind == "rollback":
                # roll back to the middle of the history when possible
                # (rollback heads re-reference OLD paths, the liveness
                # shape vacuum must honor); a too-short chain skips
                cur = t.current_version()
                if cur >= 2:
                    t.rollback(max(1, cur // 2))
                continue
            df = spark.createDataFrame(rows, schema)
            (t.append if kind == "append" else t.overwrite)(df)
        # designed tail: cur−1 references files cur does not
        t.append(spark.createDataFrame([("cX", 9), ("cY", 9)], schema))
        t.overwrite(spark.createDataFrame([("cZ", 8)], schema))

        cur = t.current_version()
        retained = list(range(max(1, cur - keep + 1), cur + 1))
        before = {
            v: sorted(map(tuple, t.read(version=v).collect())) for v in retained
        }
        live = {
            f["path"] for v in retained for f in t.manifest(v)["files"]
        }

        dead = {
            f["path"]
            for v in range(1, retained[0])
            for f in t.manifest(v)["files"]
        } - live

        removed = t.vacuum(keep_versions=keep, grace_seconds=0)

        assert not (set(removed) & live), (removed, sorted(live))
        for rel in live:
            assert _os.path.exists(_os.path.join(root, rel)), rel
        assert dead <= set(removed), (sorted(dead), removed)
        for rel in dead:
            assert not _os.path.exists(_os.path.join(root, rel)), rel
        for v in retained:
            after = sorted(map(tuple, t.read(version=v).collect()))
            assert after == before[v], (v, keep)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------ P40: changelog prefix folds == Python LWW oracle at EVERY version


@settings(**{**PROP_SETTINGS, "max_examples": 6})
@given(
    data=events_strategy,
    cuts=st.lists(st.integers(min_value=0, max_value=24), max_size=2, unique=True),
    compact_after=st.integers(min_value=0, max_value=3),
)
def test_changelog_prefix_folds_match_lww_oracle_at_every_version(
    spark, data, cuts, compact_after
):
    """``changes(0, v)`` folded by LSN must replay to the Python LWW
    oracle of the event prefix that produced version v — for EVERY
    intermediate version, not just the head (the designed replication
    test checks the final state only). Random event soup, random batch
    boundaries, and a compaction inserted mid-chain: compaction
    commits must stay changelog-invisible at every prefix that spans
    them, and the version numbering shift they cause must not detach
    a prefix from its oracle. Also pins ``changes(u, v)`` disjointness:
    consecutive half-open ranges partition the full changelog."""
    import shutil
    import tempfile

    from odibel_spark.cdc.replay import split_dead_letters
    from odibel_spark.lake.merge import compact_buckets, create_cdc_table, merge_upsert
    from odibel_spark.lake.table import BucketSpec

    rows = _event_rows(data)
    bounds = sorted(set(cuts) | {len(rows)})
    batches, at = [], 0
    for b in bounds:
        batches.append(rows[at : min(b, len(rows))])
        at = min(b, len(rows))
    batches = [b for b in batches if b]
    # designed tail: every example ends with a batch that CHANGES state
    # (two fresh valid upserts) — without it, small drawn soups can
    # leave the final commit stateless and an off-by-one dropping the
    # range's last commit survives (mutation-verified both ways)
    tail = _event_rows(
        [("insert", "c0", 0, "tailA"), ("insert", "c1", 1, "tailB")]
    )
    for j, r in enumerate(tail):
        r["lsn"] = len(rows) + j
    rows = rows + tail
    batches.append(tail)
    root = tempfile.mkdtemp(prefix="odibel-prop-chlog-")
    try:
        t = create_cdc_table(
            spark, root, _cdc_fields(), BucketSpec("conv_id", 4),
            key_cols=["conv_id", "turn_idx"], merge_mode="mor",
        )
        # (version, prefix_row_count) after each data commit
        marks: list[tuple[int, int]] = []
        n_done = 0
        for i, b in enumerate(batches):
            ok, _dead = split_dead_letters(spark.createDataFrame(b, EVENT_SCHEMA))
            merge_upsert(t, ok, ["conv_id", "turn_idx"], fold=False)
            n_done += len(b)
            marks.append((t.current_version(), n_done))
            if i == compact_after:
                compact_buckets(t)  # must be changelog-invisible

        def fold(ch_rows):
            state = {}
            for r in ch_rows:
                key = (r["conv_id"], r["turn_idx"])
                if key not in state or r["_lsn"] > state[key]["_lsn"]:
                    state[key] = r
            return {
                (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["_lsn"])
                for r in state.values()
                if not r["_deleted"]
            }

        for v, n in marks:
            got = fold(t.changes(0, until_version=v).collect())
            assert got == _lww_oracle(rows[:n]), (v, n)
        # consecutive half-open ranges partition the full changelog:
        # same multiset of change rows as one (0, head] scan
        if marks:
            pieces = []
            prev = 0
            for v, _n in marks:
                pieces += [
                    (r["conv_id"], r["turn_idx"], r["_lsn"], r["_deleted"])
                    for r in t.changes(prev, until_version=v).collect()
                ]
                prev = v
            whole = [
                (r["conv_id"], r["turn_idx"], r["_lsn"], r["_deleted"])
                for r in t.changes(0, until_version=marks[-1][0]).collect()
            ]
            assert sorted(pieces) == sorted(whole)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# -------- P41: bucket-transform pruned key lookup == filtered full read

#: bucket-column values per column type: the data draws from the first
#: six, the seventh is never written (an absent key). The int and long
#: pools hold the types' extremes; the long pool also holds values past
#: the int range and small ones that py4j passes to the JVM as ints.
_BUCKET_KEY_POOLS = {
    "string": ["a", "b", "conv-7", "ü日", "", "conv-70", "absent"],
    "int": [-3, 0, 1, 7, 2**31 - 1, -(2**31), 12345],
    "long": [-3, 0, 5, 2**31, -(2**40), 2**63 - 1, 2**62],
}


@settings(**{**PROP_SETTINGS, "max_examples": 12})
@given(
    kind=st.sampled_from(sorted(_BUCKET_KEY_POOLS)),
    mode=st.sampled_from(["cow", "mor"]),
    n_buckets=st.integers(min_value=1, max_value=5),
    batches=st.lists(
        st.lists(
            st.tuples(
                st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
                st.integers(min_value=0, max_value=2),
                st.booleans(),
            ),
            max_size=8,
        ),
        min_size=1,
        max_size=3,
    ),
    probe=st.integers(min_value=0, max_value=6),
    as_float=st.booleans(),
)
# a long stat of 2**63 - 1 against the float bound 2.0**63: equal under
# Spark's widening, so file pruning must keep the file
@example(kind="long", mode="cow", n_buckets=1, batches=[[(5, 0, False)]], probe=5, as_float=True)
def test_bucket_pruned_lookup_equals_filtered_read(
    spark, kind, mode, n_buckets, batches, probe, as_float
):
    """``read(where_ranges={k: (v, v)})`` on the bucket column reads
    only bucket ``pmod(xxhash64(v), N)`` — computed on the driver, not
    by Spark — and must still equal ``read().filter(k == v)`` for any
    commit layout: present and absent keys, null bucket-column values
    (hashed to a bucket of their own, never equal to ``v``), string /
    int / long columns, copy-on-write (raw rows) and merge-on-read
    (folded, tombstones hidden) tables. The planned files are checked
    against the bucket Spark's own ``xxhash64`` gives ``v``, and the
    driver-side bucket of every pool value against Spark's, so a wrong
    hash fails even where the lookup's answer cannot show it (a wrong
    bucket holding no files of an absent key). A float probe on an
    integer column is not the column's type: it prunes nothing and the
    residual filter alone still answers exactly."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from odibel_spark.lake.merge import create_cdc_table
    from odibel_spark.lake.table import BucketSpec, _bucket_of

    dtype = {"string": T.StringType(), "int": T.IntegerType(), "long": T.LongType()}[kind]
    pool = _BUCKET_KEY_POOLS[kind]
    spark_buckets = [
        r[0]
        for r in spark.createDataFrame([(v,) for v in pool], f"k {dtype.simpleString()}")
        .select(F.pmod(F.xxhash64("k"), F.lit(n_buckets)))
        .collect()
    ]
    assert [_bucket_of(spark, dtype, v, n_buckets) for v in pool] == spark_buckets
    value = pool[probe]
    if as_float and kind != "string":
        value = float(value)
    root = tempfile.mkdtemp(prefix="odibel-prop-bucketprune-")
    try:
        t = create_cdc_table(
            spark, root,
            [T.StructField("k", dtype), T.StructField("turn_idx", T.IntegerType()),
             T.StructField("v", T.StringType())],
            BucketSpec("k", n_buckets), key_cols=["k", "turn_idx"], merge_mode=mode,
        )
        schema = f"k {dtype.simpleString()}, turn_idx int, v string, _lsn long, _deleted boolean"
        lsn = 0
        for batch in batches:
            rows = []
            for key, turn, deleted in batch:
                lsn += 1
                rows.append((None if key is None else pool[key], turn, f"v{lsn}", lsn, deleted))
            t.append(spark.createDataFrame(rows, schema))

        def collected(df):
            return sorted((tuple(r) for r in df.collect()), key=repr)

        pruned = t.read(where_ranges={"k": (value, value)})
        assert collected(pruned) == collected(t.read().filter(F.col("k") == F.lit(value)))
        if not isinstance(value, float):
            want = spark.range(1).select(
                F.pmod(F.xxhash64(F.lit(value).cast(dtype)), F.lit(n_buckets))
            ).first()[0]
            assert all(f"/_bucket={want}/" in p for p in pruned.inputFiles())
    finally:
        shutil.rmtree(root, ignore_errors=True)
