"""Property-based tests (hypothesis) for the engine's algebraic invariants.

These pin the *laws* the design relies on, beyond example tables:
- merge segment-associativity for arbitrary CDC sequences and splits
- last-writer-wins equivalence between the batch reconstruction and the
  incremental fold
- java_string_hash parity with the Java algorithm for arbitrary ASCII
- namespace regex compilation: match iff exact-or-db-prefix
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from mongoshake_spark.operators import filters

# -- pure-python properties (no Spark needed, so examples can be many) -------


def _java_hash(s: str) -> int:
    h = 0
    for ch in s:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return h - 0x100000000 if h >= 0x80000000 else h


ns_part = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789_", min_size=1, max_size=8)


@given(st.lists(st.tuples(ns_part, ns_part), min_size=1, max_size=4), ns_part, ns_part)
def test_ns_regex_matches_iff_exact_or_prefix(patterns, db, coll):
    """compile_ns_regex(P) matches ns iff ns == p or ns startswith p + '.'
    for some p in P (oplog_filter.go:107-124's contract)."""
    pats = [f"{a}.{b}" for a, b in patterns]
    rx = re.compile(filters.compile_ns_regex(pats))
    ns = f"{db}.{coll}"
    expected = any(ns == p or ns.startswith(p + ".") for p in pats)
    assert bool(rx.match(ns)) == expected


# -- python model of the merge fold ------------------------------------------

Op = st.tuples(
    st.integers(min_value=0, max_value=5),  # key
    st.floats(min_value=-100, max_value=100, allow_nan=False),
    st.sampled_from("iud"),
)


def _model_fold(rows):
    """Reference model: last writer by ordinal wins; 'd' tombstones."""
    best: dict = {}
    for ordinal, (k, v, op) in enumerate(rows):
        best[k] = (ordinal, v, op)
    return {k: v for k, (o, v, op) in best.items() if op != "d"}


@given(st.lists(Op, min_size=0, max_size=60), st.lists(st.integers(1, 59), max_size=3))
@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_merge_fold_model_associativity(rows, cuts):
    """Folding the sequence in arbitrary contiguous splits must equal the
    single-pass fold (the coalesced-kernel equivalence argument)."""
    bounds = sorted({0, len(rows), *[c for c in cuts if c < len(rows)]})
    whole = _model_fold(rows)
    acc: dict = {}
    for lo, hi in zip(bounds, bounds[1:]):
        for ordinal in range(lo, hi):
            k, v, op = rows[ordinal]
            acc[k] = (ordinal, v, op)
    split = {k: v for k, (o, v, op) in acc.items() if op != "d"}
    assert whole == split


# -- Spark-backed properties (few examples; each runs a job) -----------------


@given(st.lists(st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=0, max_size=24), min_size=1, max_size=6))
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_java_hash_parity_property(spark, strings):
    from pyspark.sql import functions as F

    from mongoshake_spark.operators.partitioners import java_string_hash

    df = spark.createDataFrame([(s,) for s in strings], "ns string")
    got = [r["h"] for r in df.select(java_string_hash(F.col("ns")).alias("h")).collect()]
    assert got == [_java_hash(s) for s in strings]


@given(st.lists(Op, min_size=1, max_size=40), st.integers(1, 39))
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_spark_merge_matches_model(spark, rows, cut):
    """merge_upsert over two arbitrary contiguous batches == python model."""
    from mongoshake_spark.operators import merge

    data = [(k, v, i, op) for i, (k, v, op) in enumerate(rows)]
    schema = "user_id long, value double, id long, op string"
    cut = min(cut, len(data))
    b1 = spark.createDataFrame(data[:cut] or [(0, 0.0, -1, "n")], schema)
    b2 = spark.createDataFrame(data[cut:] or [(0, 0.0, -1, "n")], schema)
    state = merge.merge_upsert(merge.merge_upsert(None, b1), b2)
    got = {r["user_id"]: r["value"] for r in merge.visible(state).collect()}
    assert got == _model_fold(rows)


# -- curation invariants -----------------------------------------------------


def _merge_intervals(positions, n):
    """Serial model: merged [p, p+n) spans over sorted hit positions."""
    spans = []
    for p in sorted(positions):
        if spans and p <= spans[-1][1]:
            spans[-1][1] = max(spans[-1][1], p + n)
        else:
            spans.append([p, p + n])
    return [tuple(s) for s in spans]


@given(st.sets(st.integers(min_value=0, max_value=30), min_size=1, max_size=10))
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_contaminated_spans_matches_interval_model(spark, positions):
    """For any hit-position set, the operator's merged spans == the serial
    interval-merge model. All tokens are globally unique, so the eval docs
    (one per chosen position, 5 tokens each) hit exactly those positions."""
    from mongoshake_spark.functions.curation import contaminated_spans

    n = 5
    length = max(positions) + n
    toks = [f"w{i}x" for i in range(length)]
    corpus = spark.createDataFrame(
        [(1, " ".join(toks))], "doc_id bigint, text string"
    )
    eval_docs = spark.createDataFrame(
        [(100 + j, " ".join(toks[p : p + n])) for j, p in enumerate(sorted(positions))],
        "doc_id bigint, text string",
    )
    got = [
        (r["start_p"], r["end_p"])
        for r in contaminated_spans(corpus, eval_docs, n=n)
        .orderBy("span_id")
        .collect()
    ]
    assert got == _merge_intervals(positions, n)


@given(
    st.lists(st.integers(min_value=1, max_value=20), min_size=1, max_size=25),
    st.integers(min_value=5, max_value=50),
    st.integers(min_value=0, max_value=3),
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_shard_by_token_budget_laws(spark, tok_counts, budget, seed):
    """Conservation + serial-equivalence for arbitrary corpora: every doc
    lands in exactly one shard, and shard ids equal the serial
    hash-order/prefix-sum/chop model."""
    from mongoshake_spark.functions.curation import shard_by_token_budget
    from mongoshake_spark.functions.packing import HASH_MOD, KNUTH_MULT

    rows = [(i, " ".join(["t"] * c)) for i, c in enumerate(tok_counts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r["shard_id"]
        for r in shard_by_token_budget(df, budget=budget, seed=seed).collect()
    }
    assert sorted(got) == [i for i, _ in enumerate(tok_counts)]  # exactly once
    order = sorted(range(len(tok_counts)), key=lambda i: (((i + seed) * KNUTH_MULT) % HASH_MOD, i))
    pos = 0
    for i in order:
        assert got[i] == pos // budget, (i, pos)
        pos += tok_counts[i]


# -- winnowing invariants ----------------------------------------------------


MOD_POLY = 1_000_000_007


def _poly(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % MOD_POLY
    return h


def _winnow_model(toks, k, w):
    """Serial reference winnowing: per window of w gram hashes, select the
    rightmost minimal hash; return the distinct selected hash set."""
    if len(toks) < k:
        return set()
    hs = [_poly(" ".join(toks[i : i + k])) for i in range(len(toks) - k + 1)]
    mw = min(w, len(hs))
    sel = set()
    for e in range(mw - 1, len(hs)):
        win = hs[e - mw + 1 : e + 1]
        m = min(win)
        # rightmost occurrence of the minimum
        sel.add(m)
    return sel


token = st.text(alphabet="abcd", min_size=1, max_size=3)


@given(st.lists(st.lists(token, min_size=1, max_size=20), min_size=1, max_size=4))
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_winnow_matches_serial_model(spark, docs_toks):
    """Spark winnow_fingerprints == the serial winnowing model for
    arbitrary corpora (tiny alphabet → plenty of repeated grams and hash
    ties, the tie-break-sensitive regime)."""
    from mongoshake_spark.functions.dedup import winnow_fingerprints

    k, w = 2, 3
    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs_toks)],
        "doc_id bigint, text string",
    )
    got: dict[int, set] = {}
    for r in winnow_fingerprints(docs, k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add(r["h"])
    expected = {
        i: _winnow_model(t, k, w)
        for i, t in enumerate(docs_toks)
        if _winnow_model(t, k, w)
    }
    assert got == expected


@given(st.lists(st.lists(token, min_size=2, max_size=12), min_size=1, max_size=3))
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_lm_score_matches_serial_model(spark, docs_toks):
    """lm_score == the serial add-one bigram model for arbitrary corpora:
    counts, vocabulary and per-doc average surprisal all agree."""
    import math
    from collections import Counter

    from mongoshake_spark.functions.curation import lm_score

    c2: Counter = Counter()
    vocab = set()
    for t in docs_toks:
        vocab.update(t)
        c2.update(zip(t, t[1:]))
    c1 = Counter()
    for (a, _), n in c2.items():
        c1[a] += n
    v = len(vocab)
    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs_toks)],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in lm_score(docs).collect()}
    for i, t in enumerate(docs_toks):
        bigs = list(zip(t, t[1:]))
        exp = -sum(
            math.log2((c2[b] + 1) / (c1[b[0]] + v)) for b in bigs
        ) / len(bigs)
        assert got[i]["n_bigrams"] == len(bigs)
        assert abs(got[i]["bits_per_token"] - round(exp, 4)) < 1e-9


# -- wire-codec properties (socket tunnel, pure python) ----------------------

from mongoshake_spark.sources import socket_tunnel as tun

_cids = [tun.NO_COMPRESS, tun.COMPRESS_GZIP, tun.COMPRESS_ZLIB, tun.COMPRESS_DEFLATE]
if tun._snappy_codec() is not None:
    _cids.append(tun.COMPRESS_SNAPPY)


@given(
    st.lists(st.binary(min_size=0, max_size=200), min_size=0, max_size=8),
    st.sampled_from(_cids),
    st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_tmessage_roundtrip_any_logs_any_codec(logs, cid, shard):
    """encode o decode = identity for arbitrary byte logs under every
    registered compressor, with the checksum matching the wire bytes
    (tunnel/tunnel.go:53-72 contract)."""
    payload = tun.encode_tmessage(logs, shard=shard, compress=cid)
    msg = tun.decode_tmessage(payload)
    assert msg["shard"] == shard and msg["compress"] == cid
    assert [tun._decompress_one(log, cid) for log in msg["logs"]] == logs
    assert msg["checksum"] == tun.crc32_xor(msg["logs"])


@given(
    st.lists(st.binary(min_size=1, max_size=64), min_size=1, max_size=4),
    st.sampled_from(_cids),
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_checksum_catches_any_single_log_byte_flip(logs, cid, data):
    """Flipping any bit of any wire log byte breaks the xor-of-crc32
    checksum — the replayer's ChecksumInvalid gate fires on arbitrary
    payload corruption, not just the example in the scenario test."""
    payload = bytearray(tun.encode_tmessage(logs, shard=0, compress=cid))
    msg = tun.decode_tmessage(bytes(payload))
    # corrupt one byte INSIDE a wire log (offsets past the 20B TMessage
    # header and 4B length prefix of the first log)
    wire_logs = msg["logs"]
    li = data.draw(st.integers(0, len(wire_logs) - 1))
    target = wire_logs[li]
    if not target:  # a log can compress to 0 wire bytes only when empty input is allowed
        return
    bi = data.draw(st.integers(0, len(target) - 1))
    bit = 1 << data.draw(st.integers(0, 7))
    off = 20
    for j in range(li):
        off += 4 + len(wire_logs[j])
    off += 4 + bi
    payload[off] ^= bit
    corrupted = tun.decode_tmessage(bytes(payload))
    assert tun.crc32_xor(corrupted["logs"]) != corrupted["checksum"]


# -- post-sync verifier model (plans/verify) ---------------------------------


_cell = st.one_of(st.none(), st.text(alphabet="abcdef", min_size=0, max_size=6))


@given(
    st.dictionaries(st.integers(0, 40), st.tuples(_cell, _cell), max_size=15),
    st.dictionaries(
        st.integers(0, 50), st.one_of(st.none(), st.tuples(_cell, _cell)), max_size=8
    ),
    st.sampled_from([1, 4]),
)
# one-sided and empty inputs: every row of a one-sided bucket is reported,
# and empty against empty reports nothing
@example({}, {}, 1)
@example({}, {1: ("a", None), 2: ("b", "c")}, 1)
@example({1: ("a", None), 2: ("b", "c")}, {1: None, 2: None}, 4)
# a payload slid between two columns of one row
@example({1: ("ab", None), 2: ("x", "y")}, {1: (None, "ab")}, 1)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_verify_sync_matches_set_model(spark, src_rows, mutations, n_buckets):
    """For ANY source table and ANY mutation set (delete a key, change a
    payload, insert a new key), verify_sync reports exactly the model
    diff — nothing fabricated, nothing missed (within the hash bound).
    Rows carry two nullable payload columns; the model compares them with
    NULL read as '' — the one blind spot the signature rendering
    documents (plans/verify.row_signature)."""
    from mongoshake_spark.plans.verify import verify_sync

    dst_rows = dict(src_rows)
    for k, v in mutations.items():
        if v is None:
            dst_rows.pop(k, None)  # delete (no-op when absent)
        else:
            dst_rows[k] = v  # update or insert

    def canon(row):
        return tuple(c or "" for c in row)

    want = set()
    for k in set(src_rows) | set(dst_rows):
        if k not in dst_rows:
            want.add((k, "missing_in_dst"))
        elif k not in src_rows:
            want.add((k, "missing_in_src"))
        elif canon(src_rows[k]) != canon(dst_rows[k]):
            want.add((k, "differs"))
    schema = "k bigint, a string, b string"
    src, dst = (
        spark.createDataFrame([(k, *v) for k, v in sorted(rows.items())], schema)
        for rows in (src_rows, dst_rows)
    )
    got = {
        (r["k"], r["status"])
        for r in verify_sync(src, dst, "k", ["a", "b"], n_buckets=n_buckets).collect()
    }
    assert got == want


# -- round-5 curation operator laws ------------------------------------------

KNUTH = 2654435761
U32 = 1 << 32


def _u32(i: int) -> int:
    return (i * KNUTH) % U32


@given(
    st.lists(
        st.integers(min_value=0, max_value=24), min_size=1, max_size=8
    ),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_chunk_documents_reconstruction_law(spark, lens, chunk, stride):
    if stride > chunk:  # rejected by the operator (gap sampling, not overlap)
        import pytest as _pytest

        with _pytest.raises(ValueError):
            from mongoshake_spark.functions.curation import chunk_documents as _cd

            _cd(spark.range(0), chunk_tokens=chunk, stride=stride)
        return
    """(a) chunk count == 1 + max(0, ceil((n-c)/s)); (b) taking each
    chunk's first `stride` tokens plus the last chunk whole reconstructs
    the document exactly; (c) offsets advance by stride."""
    import math

    docs = [(i, " ".join(f"t{i}x{j}" for j in range(n))) for i, n in enumerate(lens)]
    from mongoshake_spark.functions.curation import chunk_documents

    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {}
    for r in chunk_documents(df, chunk_tokens=chunk, stride=stride).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_start"], r["chunk_text"])
        )
    for i, text in docs:
        toks = text.split(" ")  # '' -> [''], the documented degenerate
        n = len(toks)
        chunks = sorted(out[i])
        assert len(chunks) == 1 + max(0, math.ceil((n - chunk) / stride))
        rebuilt = []
        for cid, start, ctext in chunks[:-1]:
            assert start == cid * stride
            rebuilt += ctext.split(" ")[:stride]
        rebuilt += chunks[-1][2].split(" ") if chunks[-1][2] else [""]
        # the last chunk may re-cover tokens earlier stride-prefixes
        # already emitted (overlap), so compare against the true suffix
        last_start = chunks[-1][1]
        assert rebuilt[: len(rebuilt) - (n - last_start)] + toks[last_start:] == (
            rebuilt[: len(rebuilt) - (n - last_start)] + rebuilt[len(rebuilt) - (n - last_start):]
        )
        assert rebuilt[len(rebuilt) - (n - last_start):] == toks[last_start:]
        # stride prefixes cover [0, last_start)
        assert rebuilt[: last_start] == toks[:last_start]


@given(
    st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=40),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_vocab_encode_matches_serial_model(spark, stream, k):
    """ids match the serial model: rank by (count desc, token asc), top-k
    in vocab, everything else unk=k; sequence length preserved."""
    from collections import Counter

    from mongoshake_spark.functions.curation import vocab_encode

    # two docs cut from the random token stream
    cut = len(stream) // 2 or 1
    docs = [(0, " ".join(stream[:cut])), (1, " ".join(stream[cut:]) or "x")]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    toks_by_doc = {i: t.split(" ") for i, t in docs}
    counts = Counter(t for ts in toks_by_doc.values() for t in ts)
    vocab = {t: r for r, (t, _) in enumerate(
        sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k])}
    got = {r["doc_id"]: r["ids"] for r in vocab_encode(df, vocab_size=k).collect()}
    for i, ts in toks_by_doc.items():
        assert got[i] == [vocab.get(t, k) for t in ts]


@given(st.lists(st.tuples(st.integers(0, 10_000), st.sampled_from("ab")),
                min_size=2, max_size=60, unique_by=lambda t: t[0]))
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_temperature_rebalance_matches_serial_model(spark, rows):
    """Kept set == {id: u32(id)/2^32 < (n_min/n_stratum)^(1-alpha)}."""
    from collections import Counter

    from mongoshake_spark.functions.curation import temperature_rebalance

    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    n = Counter(l for _, l in rows)
    n_min = min(n.values())
    alpha = 0.5
    frac = {l: (n_min / c) ** (1 - alpha) for l, c in n.items()}
    want = {i for i, l in rows if _u32(i) / U32 < frac[l]}
    got = {r["doc_id"] for r in temperature_rebalance(df, alpha=alpha).collect()}
    assert got == want


@given(st.lists(st.tuples(st.integers(0, 10_000), st.integers(0, 50)),
                min_size=1, max_size=60, unique_by=lambda t: t[0]),
       st.integers(min_value=1, max_value=12))
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_quality_deciles_matches_serial_model(spark, rows, nb):
    from mongoshake_spark.functions.curation import quality_deciles

    df = spark.createDataFrame(rows, "doc_id bigint, score bigint")
    order = sorted(rows, key=lambda t: (-t[1], t[0]))
    n = len(rows)
    want = {i: (r * nb) // n for r, (i, _) in enumerate(order)}
    got = {r["doc_id"]: r["decile"]
           for r in quality_deciles(df, "score", n_buckets=nb).collect()}
    assert got == want


# -- temporal operator laws ---------------------------------------------------

@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)),
             min_size=1, max_size=30),
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 99)),
             min_size=0, max_size=30, unique_by=lambda t: (t[0], t[1])),
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_asof_join_matches_serial_model(spark, lrows, rrows):
    """asof value == max-ts right row with r.ts <= l.ts per key (right
    unique per (key, ts) by construction)."""
    import datetime as dt

    from mongoshake_spark.operators.temporal import asof_join

    ts = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    left = spark.createDataFrame(
        [(k, ts(s)) for k, s in lrows], "k bigint, ts timestamp"
    )
    right = spark.createDataFrame(
        [(k, ts(s), float(v)) for k, s, v in rrows],
        "k bigint, ts timestamp, v double",
    ) if rrows else spark.createDataFrame([], "k bigint, ts timestamp, v double")
    got = [
        (r["k"], r["ts"], r["asof_v"])
        for r in asof_join(left, right, "k", "ts", ["v"]).collect()
    ]
    model = {}
    for k, s, v in rrows:
        model[(k, s)] = float(v)
    def want(k, t_s):
        cands = [(s, v) for (kk, s), v in model.items() if kk == k and s <= t_s]
        return max(cands)[1] if cands else None
    assert sorted(got) == sorted(
        (k, ts(s), want(k, s)) for k, s in lrows
    )


@given(st.lists(st.tuples(st.integers(0, 1), st.integers(0, 500)),
                min_size=1, max_size=40))
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_session_ids_matches_serial_model(spark, rows):
    """session_no == running count of gap-starts in (ts, id) order per key."""
    import datetime as dt

    from mongoshake_spark.operators.temporal import session_ids

    gap = 60
    ts = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    data = [(k, i, ts(s)) for i, (k, s) in enumerate(rows)]
    df = spark.createDataFrame(data, "k bigint, eid bigint, ts timestamp")
    got = {r["eid"]: r["session_no"]
           for r in session_ids(df, "k", "ts", gap, tiebreak_col="eid").collect()}
    want = {}
    for k in {k for k, _ in rows}:
        evs = sorted((s, i) for i, (kk, s) in enumerate(rows) if kk == k)
        no, prev = 0, None
        for s, i in evs:
            if prev is None or s - prev > gap:
                no += 1
            want[i] = no
            prev = s
    assert got == want


@given(st.lists(st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
                min_size=1, max_size=50))
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_zorder_key_matches_serial_interleave(spark, pairs):
    """zorder_key == the serial bit-interleave model; monotone locality
    sanity: z(x,y) recovers both inputs (de-interleave bijection)."""
    from pyspark.sql import functions as F

    from mongoshake_spark.plans.bucketing import zorder_key

    def spread(v):
        v &= 0xFFFF
        for s, m in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
            v = (v | (v << s)) & m
        return v

    df = spark.createDataFrame(pairs, "x bigint, y bigint")
    got = [r["z"] for r in df.select(zorder_key(F.col("x"), F.col("y")).alias("z"))
           .collect()]
    want = [spread(x) | (spread(y) << 1) for x, y in pairs]
    assert sorted(got) == sorted(want)
    # bijection: distinct inputs -> distinct z
    assert len(set(want)) == len(set(pairs))


# -- verify -> repair law -----------------------------------------------------

@given(
    st.lists(st.tuples(st.integers(0, 40), st.sampled_from("abcd")),
             min_size=1, max_size=30, unique_by=lambda t: t[0]),
    st.sets(st.integers(0, 40), max_size=10),   # keys to drop from dst
    st.sets(st.integers(0, 40), max_size=10),   # keys to mutate in dst
    st.sets(st.integers(50, 60), max_size=5),   # stray keys only in dst
)
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_repair_always_heals_random_corruption(spark, rows, drops, mutations, strays):
    """For ANY corruption (drops + mutations + strays), apply_repair(dst,
    repair_ops(src, dst)) verifies clean against src — the healing law."""
    from mongoshake_spark.plans.repair import apply_repair, repair_ops
    from mongoshake_spark.plans.verify import verify_sync

    schema = "k bigint, v string"
    src = spark.createDataFrame(rows, schema)
    dst_rows = [
        (k, v + "_MUT" if k in mutations else v)
        for k, v in rows
        if k not in drops
    ] + [(k, "stray") for k in strays]
    dst = (
        spark.createDataFrame(dst_rows, schema)
        if dst_rows
        else spark.createDataFrame([], schema)
    )
    ops = repair_ops(src, dst, "k", ["v"], n_buckets=8)
    healed = apply_repair(dst, ops, "k")
    assert verify_sync(src, healed, "k", ["v"], n_buckets=8).count() == 0


@given(
    st.lists(st.integers(0, 2**40), min_size=1, max_size=30, unique=True),
    st.integers(0, 3),
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_assign_splits_matches_serial_model(spark, ids, seed):
    """assign_splits == the serial knuth-bucket model for arbitrary ids
    (including > 2^32, the ANSI-overflow regime knuth_u32 guards) and
    seeds; every id is assigned exactly one split."""
    from mongoshake_spark.functions.curation import assign_splits

    fr = {"train": 90, "val": 5, "test": 5}

    def model(i):
        b = ((i % 2**32 + seed) % 2**32) * 2654435761 % 2**32 % 100
        return "train" if b < 90 else ("val" if b < 95 else "test")

    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r["split"] for r in assign_splits(docs, fr, seed=seed).collect()}
    assert got == {i: model(i) for i in ids}


@given(st.lists(st.lists(token, min_size=1, max_size=14), min_size=2, max_size=5))
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_containment_matches_serial_model(spark, docs_toks):
    """ngram_containment_pairs == the serial set model: for every ordered
    doc pair, emit iff |inner ∩ outer| * den >= num * |inner| over
    distinct 3-shingles (tiny alphabet → heavy shingle overlap)."""
    from mongoshake_spark.functions.dedup import ngram_containment_pairs

    num, den = 1, 2
    sh = {
        i: {" ".join(t[j : j + 3]) for j in range(len(t) - 2)}
        for i, t in enumerate(docs_toks)
    }
    expected = {
        (a, b): (len(sh[a] & sh[b]), len(sh[a]))
        for a in sh
        for b in sh
        if a != b and sh[a] and len(sh[a] & sh[b]) * den >= num * len(sh[a])
    }
    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs_toks)],
        "doc_id bigint, text string",
    )
    got = {
        (r["inner_id"], r["outer_id"]): (r["common"], r["n_inner"])
        for r in ngram_containment_pairs(docs, num=num, den=den).collect()
    }
    assert got == expected


@given(st.lists(st.lists(token, min_size=1, max_size=10), min_size=2, max_size=6))
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_bloom_decontaminate_never_false_negative(spark, docs_toks):
    """For ANY corpus/eval split and a deliberately tiny (saturating)
    filter, every doc with a REAL eval overlap is flagged — Bloom's
    one-sided-error law, the direction decontamination requires."""
    from mongoshake_spark.functions.curation import decontaminate, decontaminate_bloom

    rows = [(i, " ".join(t)) for i, t in enumerate(docs_toks)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    ev = docs.filter("doc_id % 2 = 0")
    corpus = docs.filter("doc_id % 2 = 1")
    exact = {
        r["doc_id"]
        for r in decontaminate(corpus, ev, n=2).filter("contaminated").collect()
    }
    bloom = {
        r["doc_id"]
        for r in decontaminate_bloom(corpus, ev, n=2, m_bits=64, k=2)
        .filter("contaminated")
        .collect()
    }
    assert exact <= bloom


@given(
    st.lists(
        st.tuples(st.sampled_from(["x", "y", "z", None]), st.sampled_from(["s1", "s2"])),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_source_dup_stats_matches_serial_model(spark, rows):
    """source_duplicate_stats == the serial dict model for arbitrary
    (text, source) multisets including NULL texts (counted, never dups)."""
    from collections import Counter

    from mongoshake_spark.functions.dedup import source_duplicate_stats

    docs = spark.createDataFrame(
        [(i, t, s) for i, (t, s) in enumerate(rows)],
        "doc_id long, text string, source string",
    )
    total = Counter(t for t, _ in rows if t is not None)
    model: dict[str, list[int]] = {}
    for t, s in rows:
        m = model.setdefault(s, [0, 0, 0])
        m[0] += 1
        if t is not None:
            src_cnt = sum(1 for t2, s2 in rows if t2 == t and s2 == s)
            if total[t] > 1:
                m[1] += 1
            if total[t] > src_cnt:
                m[2] += 1
    got = {
        r["source"]: [r["n_docs"], r["n_dup_docs"], r["n_cross_source_dup_docs"]]
        for r in source_duplicate_stats(docs).collect()
    }
    assert got == model


@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 2000)),
             min_size=1, max_size=25),
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 2000)),
             min_size=1, max_size=25),
    st.tuples(st.integers(0, 50), st.integers(0, 400)),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_range_join_matches_serial_model(spark, lrows, rrows, bounds):
    """Bucketized interval join == the quadratic serial model for ANY
    bounds 0 <= lower <= upper (seconds) — pairs crossing bucket
    boundaries included, duplicates never emitted."""
    import datetime as dt

    from mongoshake_spark.operators.temporal import range_join

    lo_s, span_s = bounds
    lower_us, upper_us = lo_s * 1_000_000, (lo_s + span_s) * 1_000_000
    ts = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    left = spark.createDataFrame(
        [(i, k, ts(s)) for i, (k, s) in enumerate(lrows)],
        "lid bigint, k bigint, l_ts timestamp",
    )
    right = spark.createDataFrame(
        [(i, k, ts(s)) for i, (k, s) in enumerate(rrows)],
        "rid bigint, k bigint, r_ts timestamp",
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in range_join(left, right, "l_ts", "r_ts",
                            lower_us, upper_us, on="k").collect()
    )
    want = sorted(
        (li, ri)
        for li, (lk, ls) in enumerate(lrows)
        for ri, (rk, rs) in enumerate(rrows)
        if lk == rk and ls + lo_s <= rs <= ls + lo_s + span_s
    )
    assert got == want


@given(st.lists(st.tuples(st.text(alphabet="abc ", min_size=0, max_size=12),),
                min_size=1, max_size=10))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_bm25_matches_serial_model(spark, texts):
    """BM25 scores == a serial Okapi implementation over the same
    tokenizer, for arbitrary tiny corpora (docs with no query term are
    absent from the output)."""
    import math
    import re as _re

    from mongoshake_spark.functions.retrieval import bm25_scores

    terms = ["a", "b"]
    docs = [(i, t[0]) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {r["doc_id"]: r["score"] for r in bm25_scores(df, terms).collect()}

    toks = {i: [w for w in _re.split("[^a-z0-9]+", t.lower()) if w] for i, t in docs}
    n = float(len(docs))
    avgdl = sum(len(v) for v in toks.values()) / n if n else 0.0
    dfreq = {t: float(sum(1 for v in toks.values() if t in v)) for t in terms}
    want = {}
    for i, tk in toks.items():
        s = 0.0
        for t in terms:
            tf = float(tk.count(t))
            if tf == 0:
                continue
            idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(tk) / avgdl))
        if s > 0:
            want[i] = s
    assert set(got) == set(want)
    for i in want:
        assert abs(got[i] - want[i]) < 1e-9


# -- dedup_lines laws ---------------------------------------------------------

_line = st.text(alphabet="ab ", min_size=0, max_size=12)


@given(st.lists(st.lists(_line, min_size=1, max_size=5), min_size=1, max_size=5))
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_dedup_lines_laws(spark, docs_lines):
    """Laws of corpus-level line dedup against a serial model:
    (1) a trimmed non-empty line is removed iff it occurs in >= 2
    distinct docs; (2) conservation: n_kept + n_removed = the doc's
    non-empty line count; (3) idempotence: re-running on the cleaned
    corpus removes nothing (removal only shrinks doc frequencies)."""
    from collections import Counter

    from mongoshake_spark.functions.dedup import dedup_lines

    corpus = [(i, "\n".join(lines)) for i, lines in enumerate(docs_lines)]
    model_lines = {
        i: [ln.strip() for ln in lines if ln.strip()]
        for i, lines in enumerate(docs_lines)
    }
    df_count = Counter()
    for i, lns in model_lines.items():
        for ln in set(lns):
            df_count[ln] += 1
    expected = {
        i: [ln for ln in lns if df_count[ln] < 2]
        for i, lns in model_lines.items()
        if lns
    }
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in dedup_lines(docs, min_df=2).collect()
    }
    assert set(out) == set(expected)
    for i, kept in expected.items():
        clean, n_kept, n_removed = out[i]
        assert clean == "\n".join(kept)
        assert n_kept == len(kept)
        assert n_kept + n_removed == len(model_lines[i])
    # idempotence over the cleaned corpus
    cleaned = spark.createDataFrame(
        [(i, out[i][0]) for i in out if out[i][0]], "doc_id long, text string"
    )
    if cleaned.count() > 0:
        again = dedup_lines(cleaned, min_df=2).collect()
        assert all(r["n_removed"] == 0 for r in again)


# -- classifier_score laws ----------------------------------------------------


@given(
    st.lists(st.text(alphabet="xyz ", min_size=1, max_size=20), min_size=1, max_size=6),
    st.integers(2, 5),
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_classifier_score_laws(spark, texts, parts):
    """Laws of the feature-hashed classifier: (1) |score_ppm| <= 1e6
    (weights are in [-scale, scale], so the normalized sum cannot leave
    full scale); (2) partitioning invariance: integer sums are order-
    free, so any repartitioning yields identical rows; (3) keep implies
    a positive integer score, so score_ppm >= 0 whenever keep."""
    from mongoshake_spark.functions.curation import classifier_score

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    base = {
        r["doc_id"]: (r["n_tokens"], r["score_ppm"], r["keep"])
        for r in classifier_score(docs).collect()
    }
    for n_tokens, ppm, keep in base.values():
        assert abs(ppm) <= 1_000_000
        assert n_tokens >= 1
        if keep:
            assert ppm >= 0
    reparted = {
        r["doc_id"]: (r["n_tokens"], r["score_ppm"], r["keep"])
        for r in classifier_score(docs.repartition(parts)).collect()
    }
    assert reparted == base


sym = st.sampled_from(["a", "b", "ab", "ba", "aa", "c"])


@given(
    st.lists(st.lists(sym, min_size=0, max_size=12), min_size=1, max_size=6),
    sym,
    sym,
)
@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
def test_bpe_merge_rewrite_matches_python_reference(spark, seqs, left, right):
    """bpe.merge_rewrite's in-row fold == the textbook left-to-right
    non-overlapping scan, over random symbol sequences including the
    adversarial shapes: overlapping runs (aaa), merged token equal to a
    later left symbol (ab + a), and empty sequences."""
    from pyspark.sql import functions as F

    from mongoshake_spark.functions.bpe import merge_rewrite

    merged = left + right

    def reference(xs):
        out, i = [], 0
        while i < len(xs):
            if i + 1 < len(xs) and xs[i] == left and xs[i + 1] == right:
                out.append(merged)
                i += 2
            else:
                out.append(xs[i])
                i += 1
        return out

    df = spark.createDataFrame(
        [(i, xs) for i, xs in enumerate(seqs)], "i long, syms array<string>"
    )
    got = {
        r["i"]: list(r["r"])
        for r in df.select(
            "i",
            merge_rewrite(
                F.col("syms"), F.lit(left), F.lit(right), F.lit(merged)
            ).alias("r"),
        ).collect()
    }
    assert got == {i: reference(xs) for i, xs in enumerate(seqs)}


word = st.text(alphabet="ab c", min_size=1, max_size=12)


@given(st.lists(word, min_size=1, max_size=8))
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_bpe_train_incremental_matches_recount_and_textbook(spark, texts):
    """bpe_train's delta-maintained pair counts are EXACT: the incremental
    form, the full-recount form, and a textbook driver-side BPE trainer
    (Counter over word types, same deterministic tie-break) must all
    learn the identical merge table on random corpora."""
    from collections import Counter

    from mongoshake_spark.functions.bpe import END_OF_WORD, bpe_train

    def textbook(texts, n):
        vocab = Counter()
        for t in texts:
            for w in t.split(" "):
                if w:
                    vocab[tuple(list(w) + [END_OF_WORD])] += 1
        out = []
        for step in range(n):
            pairs = Counter()
            for syms, cnt in vocab.items():
                for i in range(len(syms) - 1):
                    pairs[(syms[i], syms[i + 1])] += cnt
            if not pairs:
                break
            (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((step, l, r, l + r, c))
            nv = Counter()
            for syms, cnt in vocab.items():
                res, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        res.append(l + r)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                nv[tuple(res)] += cnt
            vocab = nv
        return out

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    want = textbook(texts, 4)
    inc = [
        tuple(r)
        for r in bpe_train(docs, n_merges=4, incremental=True, local=False).collect()
    ]
    full = [
        tuple(r)
        for r in bpe_train(docs, n_merges=4, incremental=False, local=False).collect()
    ]
    loc = [tuple(r) for r in bpe_train(docs, n_merges=4, local=True).collect()]
    assert inc == want and full == want and loc == want


@given(
    st.lists(
        st.text(alphabet="abcX .", min_size=0, max_size=40),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_cdc_chunks_matches_serial_model(spark, texts):
    """Spark cdc_chunks == the serial rolling-hash model for arbitrary
    strings (tiny alphabet with spaces → frequent window repeats, the
    boundary-dense regime). Pins exact tiling, boundary placement, and
    the shorter-than-window / empty-doc edges."""
    import hashlib

    from mongoshake_spark.functions.curation import cdc_chunks
    from mongoshake_spark.functions.texthash import MOD

    w, d = 8, 16

    def model(text):
        n = len(text)
        codes = [ord(c) for c in text]
        cuts = [
            i
            for i in range(w, n)
            if (sum(codes[i - 1 - t] * (31**t) for t in range(w)) % MOD) % d == 0
        ]
        bounds = [0] + cuts + [n]
        return [
            (
                j + 1,
                bounds[j] + 1,
                bounds[j + 1] - bounds[j],
                hashlib.md5(text[bounds[j] : bounds[j + 1]].encode()).hexdigest(),
            )
            for j in range(len(bounds) - 1)
        ]

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    expected = {i: model(t) for i, t in enumerate(texts) if t}
    # BOTH implementations must equal the serial model (the arrow kernel
    # is the default; the expression form is the oracle-literal one)
    for impl in ("arrow", "expr"):
        got: dict[int, list] = {}
        for r in (
            cdc_chunks(docs, window=w, divisor=d, impl=impl)
            .orderBy("doc_id", "chunk_idx")
            .collect()
        ):
            got.setdefault(r["doc_id"], []).append(
                (r["chunk_idx"], r["start"], r["n_chars_chunk"], r["chunk_md5"])
            )
        assert got == expected, impl


@given(
    st.lists(
        st.tuples(st.integers(min_value=1, max_value=50)),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    st.integers(min_value=1, max_value=8),
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_sample_weighted_subset_monotone_in_k(spark, weights, k):
    """Priorities are fixed per row, so the weighted sample for k' < k is
    a strict subset of the sample for k — mixture builds can grow a
    sample without resampling history (same law sample_exact_k pins)."""
    from mongoshake_spark.functions.curation import sample_weighted

    rows = [(i, "t", w[0]) for i, w in enumerate(weights)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, w int")
    big = {
        r["doc_id"]
        for r in sample_weighted(docs, k=k + 3, weight_col="w").collect()
    }
    small = {
        r["doc_id"] for r in sample_weighted(docs, k=k, weight_col="w").collect()
    }
    assert small <= big
    assert len(small) == min(k, len(rows))
