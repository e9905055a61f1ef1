"""Property-based tests (SURVEY §5.4): random event batches through the
dataflow; invariants that must hold for ANY input.

Spark round-trips are expensive per example, so Spark-touching properties
run few examples with no deadline; pure-Python cores (callstack decode,
pattern inference) get full Hypothesis treatment.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from xeloader_spark.functions.callstack import decode_callstack_py
from xeloader_spark.operators.ingest import (
    IngestConfig,
    flatten_events,
    get_leading_file_pattern,
    split_by_error_budget,
    wildcard_to_regex,
)

# ---------------------------------------------------------------- pure cores


@given(st.binary(min_size=0, max_size=200), st.sampled_from([4, 8]))
def test_callstack_decode_frame_count(blob, fs):
    out = decode_callstack_py(blob, fs, "ln ")
    n_frames = len(blob) // fs
    if n_frames == 0:
        assert out == ""
    else:
        parts = out.split(";")
        assert len(parts) == n_frames
        for i, p in enumerate(parts):
            assert p.startswith("ln ")
            # each frame is the byte-reversed hex of the source frame
            frame = blob[i * fs : (i + 1) * fs]
            assert p[3:] == frame[::-1].hex().upper()


@given(
    st.text(
        alphabet=st.characters(
            codec="ascii", exclude_characters="/\\\x00\n\r"
        ),
        min_size=1,
        max_size=40,
    )
)
def test_leading_pattern_always_suffixed_star(name):
    pat = get_leading_file_pattern(name + ".xel")
    assert pat.endswith("*")
    # the derived prefix must wildcard-match the original file name
    import re

    rx = wildcard_to_regex(pat)
    assert re.match(rx, name + ".xel") or re.match(rx, name)


@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_uint64_hex_roundtrip(v):
    # the S14 transform is hex of the two's-complement long; round-trip
    # through the signed representation must preserve the unsigned value
    signed = v if v < 2**63 else v - 2**64
    hx = format(signed & 0xFFFFFFFFFFFFFFFF, "016X")
    assert int(hx, 16) == v


# ------------------------------------------------------------ spark dataflow

EVENT_TYPES = ["click", "error", "view"]

event_strategy = st.fixed_dictionaries(
    {
        "event_id": st.integers(min_value=0, max_value=10**9),
        "user_id": st.integers(min_value=0, max_value=1000),
        "event_type": st.sampled_from(EVENT_TYPES),
        "value": st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        "props": st.one_of(
            st.just('{"k": 1}'),
            st.text(min_size=0, max_size=120).filter(lambda s: "\x00" not in s),
        ),
    }
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(event_strategy, min_size=1, max_size=60))
def test_row_conservation_and_truncation(spark, batch):
    base_ts = dt.datetime(2024, 1, 1)
    rows = [
        Row(
            event_id=e["event_id"],
            ts=base_ts + dt.timedelta(seconds=i),
            user_id=e["user_id"],
            event_type=e["event_type"],
            value=e["value"],
            props=e["props"],
        )
        for i, e in enumerate(batch)
    ]
    df = spark.createDataFrame(rows).withColumn(
        "e_source_file", F.lit("file_a.parquet")
    )
    cfg = IngestConfig(bound_widths=True, string_trunc=16, max_errors_per_file=10**9)
    flat = flatten_events(df, cfg)

    # invariant 1: flatten conserves rows
    assert flat.count() == len(batch)

    # invariant 2: truncation flags count exactly the over-length payloads
    n_over = sum(1 for e in batch if len(e["props"]) > 16)
    got = flat.agg(F.sum("e_props_truncated").alias("n")).first().n
    assert got == n_over

    # invariant 3: good + errors == total, demux partition-union == total
    good, report = split_by_error_budget(flat, cfg)
    n_err = sum(r.n_errors for r in report)
    assert good.count() + n_err == len(batch)
    per_type = (
        good.groupBy("event_type").count().agg(F.sum("count").alias("n")).first().n
    )
    assert (per_type or 0) == good.count()


# ---------------------------------------------- sampling / packing laws
@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(0, 400)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.sampled_from([64, 128, 512]),
)
def test_pack_sequences_invariants(spark, rows, budget):
    """Packing laws for any corpus and budget: offsets stay inside the
    budget; each partition's (seq_id, seq_offset) equals the exclusive
    running token sum div/mod the budget; ids start at 0 and never
    decrease in doc order."""
    from xeloader_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(i, n, "s") for i, n in rows], "doc_id long, n_tokens long, src string"
    )
    out = pack_sequences(df, "n_tokens", budget, "src", "doc_id").collect()
    out.sort(key=lambda r: r.doc_id)
    cum = 0
    for r in out:
        assert 0 <= r.seq_offset < budget
        assert r.seq_id == cum // budget and r.seq_offset == cum % budget
        cum += r.n_tokens


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(st.floats(0.0, 1.0), st.text(st.characters(codec="ascii"), max_size=8))
def test_split_fractions_partition_rows(spark, frac, salt):
    """train/test is a PARTITION of the input for any fraction and salt:
    every row lands in exactly one side, deterministically."""
    from xeloader_spark.operators.sampling import split_train_test

    df = spark.range(300).withColumnRenamed("id", "k")
    out = split_train_test(df, "k", test_fraction=frac, salt=salt)
    got = [(r.k, r.split) for r in out.collect()]
    assert len(got) == 300
    assert {s for _, s in got} <= {"train", "test"}
    again = dict(
        (r.k, r.split)
        for r in split_train_test(
            df.repartition(5), "k", test_fraction=frac, salt=salt
        ).collect()
    )
    assert dict(got) == again


class TestZValueProperties:
    def test_zvalue_matches_python_interleave(self, spark):
        """Spark `z_value` == the reference bit-interleave for random
        pairs, and is injective over the masked domain."""
        import random

        from xeloader_spark.operators.skew import z_value

        rnd = random.Random(7)
        pairs = [
            (rnd.randrange(0, 1 << 14), rnd.randrange(0, 1 << 14))
            for _ in range(200)
        ]

        def py_z(a: int, b: int, bits: int = 14) -> int:
            z = 0
            for i in range(bits):
                z |= ((a >> i) & 1) << (2 * i + 1)
                z |= ((b >> i) & 1) << (2 * i)
            return z

        df = spark.createDataFrame(pairs, "a long, b long").withColumn(
            "z", z_value("a", "b", bits=14)
        )
        got = {(r.a, r.b): r.z for r in df.collect()}
        for (a, b), z in got.items():
            assert z == py_z(a, b), (a, b, z)
        assert len(set(got.values())) == len(set(pairs))


@given(
    st.binary(min_size=48, max_size=48),
    st.integers(min_value=0, max_value=47),
    st.integers(min_value=1, max_value=255),
)
def test_ahash_brightness_shift_monotone(pixels, idx, delta):
    """aHash properties (pure python core): (1) the hash has exactly the
    bits whose luma strictly exceeds the mean — recomputed independently
    here; (2) raising one channel can only turn bits on at that pixel or
    off elsewhere via the raised mean — never on elsewhere."""
    from xeloader_spark.operators.multimodal import ahash_core

    h, total = ahash_core(pixels, 16)
    lumas = [
        299 * pixels[3 * i] + 587 * pixels[3 * i + 1] + 114 * pixels[3 * i + 2]
        for i in range(16)
    ]
    assert total == sum(lumas)
    expect = 0
    for i, lum in enumerate(lumas):
        if lum * 16 > total:
            expect |= 1 << (15 - i)
    assert h == expect

    bumped = bytearray(pixels)
    bumped[idx] = min(255, bumped[idx] + delta)
    h2, _ = ahash_core(bytes(bumped), 16)
    changed_px = idx // 3
    for i in range(16):
        bit, bit2 = (h >> (15 - i)) & 1, (h2 >> (15 - i)) & 1
        if i != changed_px:
            assert bit2 <= bit  # mean rose: other pixels can only lose the bit


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(10**6), max_value=10**6),
            st.text(
                st.characters(codec="ascii", exclude_characters="\x00"),
                max_size=6,
            ),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_fixed_width_python_roundtrip_model(rows):
    """Model-level fixed-width invariant: rendering then parsing with the
    same spec is the identity for in-width values (checked in pure
    python against the spec arithmetic the Spark projections encode)."""
    width_n, width_s = 12, 8
    for n, s in rows:
        if len(s.strip()) != len(s) or len(s) > width_s or s == "":
            continue  # padding is not invertible for edge blanks — documented
        line = str(n).rjust(width_n) + s.ljust(width_s)
        assert len(line) == width_n + width_s
        back_n = int(line[:width_n].strip())
        back_s = line[width_n:].strip()
        assert back_n == n and back_s == s


@given(
    st.lists(
        st.floats(min_value=-100.0, max_value=1100.0,
                  allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=100),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_twopass_quantile_equals_sorted_order_statistic(spark, values, p):
    """Random data (including values outside the sketch range [0, 1000))
    and random percentiles: the two-pass refinement must always return
    the k-th smallest value from a plain sort."""
    from xeloader_spark.operators import sketch as sk

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)], "id long, value double"
    )
    r = sk.exact_quantile_twopass(df, "value", p, 0.0, 1000.0, 16).collect()
    assert len(r) == 1
    k = (len(values) * p + 99) // 100
    assert r[0].rank == k
    assert r[0].exact_value == sorted(values)[k - 1]


@settings(deadline=None, max_examples=12, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 60), st.integers(1, 9)),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    )
)
def test_ewma_matches_python_model(spark, series):
    """q_ewma_smooth's lag-window arithmetic == a direct python EWMA over
    any sparse hourly series: weight 2^(7-gap) for present buckets within
    8 hours, renormalized denominator, one final division."""
    import os
    import tempfile

    import pandas as pd

    from xeloader_spark.queries.temporal import q_ewma_smooth

    rows = []
    eid = 0
    for h, c in series:
        for _ in range(c):
            rows.append(
                (
                    eid,
                    pd.Timestamp("2024-01-01") + pd.Timedelta(hours=h, minutes=1),
                    1,
                    "view",
                    0.0,
                    "",
                )
            )
            eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as td:
        pdf.to_parquet(os.path.join(td, "events.parquet"))
        got = {
            r.hour_idx: (r.n_events, r.num, r.den, r.ewma)
            for r in q_ewma_smooth(spark, td).collect()
        }
    base = int(pd.Timestamp("2024-01-01").timestamp()) // 3600
    buckets = dict(sorted((base + h, c) for h, c in series))
    for h, c in buckets.items():
        num = den = 0
        for h2, c2 in buckets.items():
            gap = h - h2
            if 0 <= gap < 8:
                w = 1 << (7 - gap)
                num += c2 * w
                den += w
        assert got[h] == (c, num, den, num / den)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.floats(0.0, 327.0, allow_nan=False), min_size=3, max_size=60),
    st.sampled_from([50, 95, 99]),
)
def test_twopass_percentile_is_kth_order_statistic(spark, values, p):
    """For any value set and percentile, the two-pass refinement returns
    EXACTLY the ceil(n*p/100)-th smallest element (duplicates counted) —
    the python sort is the spec."""
    from xeloader_spark.operators.sketch import exact_quantile_twopass

    df = spark.createDataFrame(
        [(i, float(v), "t") for i, v in enumerate(values)],
        "id long, value double, g string",
    )
    out = exact_quantile_twopass(df, "value", p, 0.0, 328.0, 16, ["g"]).collect()
    assert len(out) == 1
    n = len(values)
    rank = (n * p + 99) // 100
    expect = sorted(values)[rank - 1]
    assert out[0].exact_value == expect and out[0].rank == rank


# ---------------------------------------------------------- round-5 operators


_basket_strategy = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 7)),
    min_size=1,
    max_size=40,
)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(_basket_strategy, st.integers(1, 3), st.integers(1, 3))
def test_frequent_pairs_match_bruteforce(spark, tx_rows, min_item, min_pair):
    """Pair supports, item supports, and the a-priori prune must match
    an itertools brute force for ANY transaction multiset."""
    from itertools import combinations

    from xeloader_spark.operators.itemsets import frequent_pairs

    df = spark.createDataFrame(tx_rows, "basket long, item long")
    got = {
        (r.item_a, r.item_b): (r.pair_support, r.support_a, r.support_b)
        for r in frequent_pairs(
            df, "basket", "item",
            min_item_support=min_item, min_pair_support=min_pair,
        ).collect()
    }

    baskets: dict[int, set[int]] = {}
    for b, i in tx_rows:
        baskets.setdefault(b, set()).add(i)
    isup: dict[int, int] = {}
    for items in baskets.values():
        for i in items:
            isup[i] = isup.get(i, 0) + 1
    freq = {i for i, n in isup.items() if n >= min_item}
    psup: dict[tuple[int, int], int] = {}
    for items in baskets.values():
        for a, b in combinations(sorted(items & freq), 2):
            psup[(a, b)] = psup.get((a, b), 0) + 1
    expect = {
        p: (n, isup[p[0]], isup[p[1]])
        for p, n in psup.items()
        if n >= min_pair
    }
    assert got == expect


_vec_strategy = st.lists(
    st.lists(st.integers(-5, 5), min_size=3, max_size=3),
    min_size=4,
    max_size=10,
    unique_by=lambda v: tuple(v),
)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(_vec_strategy)
def test_mmr_matches_bruteforce_greedy(spark, vecs):
    """The distributed MMR must replay a pure-Python greedy with the
    same integer score rel − max_sim and (score desc, id asc)
    tie-break, for ANY vector set."""
    from xeloader_spark.operators.similarity import mmr_rerank

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pool = min(5, len(vecs) - 1)
    k = min(3, pool)
    got = [
        (r.pick_rank, r.candidate_id, r.mmr_score)
        for r in sorted(
            mmr_rerank(emb, [0], k=k, pool=pool, scale=1).collect(),
            key=lambda r: r.pick_rank,
        )
    ]

    q = vecs[0]
    dot = lambda a, b: sum(x * y for x, y in zip(a, b))
    rel = sorted(
        ((dot(q, v), -i) for i, v in enumerate(vecs) if i != 0), reverse=True
    )[:pool]
    cand = {-ni: d for d, ni in rel}
    picks = []
    sel: list[int] = []
    first = max(cand.items(), key=lambda kv: (kv[1], -kv[0]))
    picks.append((1, first[0], first[1]))
    sel.append(first[0])
    for t in range(2, k + 1):
        best = None
        for c, r_ in cand.items():
            if c in sel:
                continue
            pen = max(dot(vecs[c], vecs[s]) for s in sel)
            score = r_ - pen
            key = (score, -c)
            if best is None or key > best[0]:
                best = (key, c, score)
        picks.append((t, best[1], best[2]))
        sel.append(best[1])
    assert got == picks


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=25,
    ),
    st.integers(2, 4),
)
def test_modularity_matches_python_model(spark, raw_edges, n_comm):
    """Per-community contributions must equal the python model's
    (4·m·e_c − d_c²)/(4m²) bit-for-bit, and sum to a valid Q ≤ 1, for
    ANY multigraph input (self-loops dropped, duplicates collapsed)."""
    from xeloader_spark.operators.graph import modularity

    edges = spark.createDataFrame(raw_edges, "src long, dst long")
    nodes = sorted({n for e in raw_edges for n in e})
    comm_of = {n: n % n_comm for n in nodes}
    cdf = spark.createDataFrame(
        [(n, comm_of[n]) for n in nodes], "id long, comm long"
    )
    und = {
        (min(a, b), max(a, b)) for a, b in raw_edges if a != b
    }
    m = len(und)
    got = {r.community: r for r in modularity(edges, cdf).collect()}
    if m == 0:
        assert all(r.q_contribution is None for r in got.values())
        return  # division undefined; contribution is NULL by contract
    deg: dict[int, int] = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    for c in sorted(set(comm_of.values())):
        members = [n for n in nodes if comm_of[n] == c]
        e_c = sum(1 for a, b in und if comm_of[a] == c and comm_of[b] == c)
        d_c = sum(deg.get(n, 0) for n in members)
        r = got[c]
        assert r.n_nodes == len(members)
        assert r.intra_edges == e_c
        assert r.degree_sum == d_c
        expect = float(4 * m * e_c - d_c * d_c) / (4.0 * float(m) * float(m))
        assert r.q_contribution == expect
    q = sum(r.q_contribution for r in got.values())
    assert q <= 1.0 + 1e-12


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=1, max_size=12),
        min_size=1,
        max_size=12,
    )
)
def test_bm25_matches_integer_model(spark, token_lists):
    """bm25_topk must reproduce a pure-Python replay of its fixed-point
    arithmetic (same DIV order, same scales) EXACTLY, for any corpus."""
    from xeloader_spark.operators.text import bm25_topk

    terms = ("a", "c")
    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.doc_id, r.dl, r.n_matched, r.score)
        for r in bm25_topk(df, terms, k=len(rows)).collect()
    ]

    IDF, SAT, DLS = 1_000_000, 10_000, 1_000_000
    a, c, p, q = 6, 5, 3, 4
    n = len(token_lists)
    tot = sum(len(t) for t in token_lists)
    dfc = {t: sum(1 for toks in token_lists if t in toks) for t in terms}
    scored = []
    for i, toks in enumerate(token_lists):
        dl = len(toks)
        dlnorm = (dl * n * DLS) // tot
        score, matched = 0, 0
        for t in terms:
            tf = toks.count(t)
            if tf == 0:
                continue
            matched += 1
            idf = (
                0
                if dfc[t] == 0
                else ((2 * (n - dfc[t]) + 1) * IDF) // (2 * dfc[t] + 1)
            )
            sat = (tf * (a + c) * q * DLS * SAT) // (
                c * q * DLS * tf + a * (q - p) * DLS + a * p * dlnorm
            )
            score += (idf * sat) // SAT
        if score > 0:
            scored.append((i, dl, matched, score))
    expect = sorted(scored, key=lambda r: (-r[3], r[0]))
    assert got == expect


_url_scheme = st.sampled_from(["http", "https", "HTTP", "Https"])
_url_host = st.text(
    st.sampled_from("abcXYZ09-."), min_size=1, max_size=12
).filter(lambda h: not h.startswith(".") )
_url_port = st.sampled_from(["", ":80", ":443", ":8080"])
_url_path = st.lists(
    st.one_of(
        st.text(st.sampled_from("abc09_-.%AF"), min_size=1, max_size=5),
        # r10 axes: explicit dot segments and percent-encoding case;
        # r11: unreserved decodes ('%6cx'→'lx', '%7E'→'~'), and '%2e'
        # decodes to '.' BEFORE dot-segment removal sees it
        st.sampled_from(
            [".", "..", "%3a", "%3A", "%6cx", "a%2Fb", "%",
             "%7E", "%2e", "%2E%2e", "x%5F"]
        ),
    ),
    max_size=4,
).map(lambda segs: "".join("/" + s for s in segs))
_url_param = st.one_of(
    st.tuples(st.sampled_from(["id", "ref", "page", "q"]),
              st.text(st.sampled_from("abc09"), max_size=4)),
    st.tuples(st.sampled_from(["utm_source", "utm_campaign", "fbclid"]),
              st.text(st.sampled_from("xyz12"), max_size=4)),
)
_url_strategy = st.tuples(
    _url_scheme, _url_host, _url_port, _url_path,
    st.lists(_url_param, max_size=4),
    st.sampled_from(["", "#frag", "#a#b"]),
    st.sampled_from(["", "/", "//"]),
)


def _py_canonicalize(url: str) -> str:
    """Pure-Python replay of url_canonicalize's exact regex semantics."""
    import re as _re

    def ext(pat):
        m = _re.search(pat, url)
        return m.group(1) if m else ""

    def pct_upper(s):
        # RFC 3986 §6.2.2.2: decode unreserved octets; §6.2.2.1:
        # uppercase the hex of everything that stays encoded (mirror
        # of pct_upper_sql's numeric-range check)
        unres = set(range(48, 58)) | set(range(65, 91)) \
            | set(range(97, 123)) | {45, 46, 95, 126}
        parts = s.split("%")
        out = parts[0]
        for c in parts[1:]:
            if _re.match(r"^[0-9a-fA-F]{2}", c):
                code = int(c[:2], 16)
                if code in unres:
                    out += chr(code) + c[2:]
                else:
                    out += "%" + c[:2].upper() + c[2:]
            else:
                out += "%" + c
        return out

    def remove_dots(p):
        # RFC 3986 §5.2.4 mirror of remove_dot_segments_sql
        if p == "":
            return ""
        acc = ""
        for seg in p.split("/")[1:]:
            if seg == ".":
                continue
            if seg == "..":
                acc = acc[: acc.rfind("/")] if "/" in acc else ""
            else:
                acc += "/" + seg
        return acc or "/"

    scheme = ext(r"^([a-zA-Z]+)://").lower()
    hostport = _re.sub(
        r":(443|80)$", "", ext(r"^[a-zA-Z]+://([^/?#]+)").lower()
    )
    path = remove_dots(pct_upper(ext(r"^[a-zA-Z]+://[^/?#]+([^?#]*)")))
    path = _re.sub(r"/+$", "", path) or "/"
    q = pct_upper(ext(r"\?([^#]*)"))
    params = sorted(
        x for x in q.split("&")
        if x != "" and x[:4] != "utm_" and x[:7] != "fbclid="
    )
    qs = "&".join(params)
    return f"{scheme}://{hostport}{path}" + (f"?{qs}" if qs else "")


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(st.lists(_url_strategy, min_size=1, max_size=8))
def test_url_canonicalize_matches_python_model(spark, url_parts):
    """The Spark canonicalizer must agree with a pure-Python replay of
    its regex pipeline on arbitrary structured URLs (case, ports,
    tracking params, param order, fragments, trailing slashes, and
    r10: dot segments + percent-encoding hex case)."""
    from xeloader_spark.operators.text import url_canonicalize

    urls = []
    for scheme, host, port, path, params, frag, trail in url_parts:
        q = "&".join(f"{k}={v}" for k, v in params)
        urls.append(
            f"{scheme}://{host}{port}{path}{trail}"
            + (f"?{q}" if q else "")
            + frag
        )
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "doc_id long, url string"
    )
    got = {
        r.doc_id: r.canonical_url for r in url_canonicalize(df).collect()
    }
    for i, u in enumerate(urls):
        assert got[i] == _py_canonicalize(u), (u, got[i], _py_canonicalize(u))


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(-50, 50), min_size=1, max_size=60),
    st.lists(st.integers(-50, 50), max_size=20),
    st.sampled_from([64, 256, 32_768]),
)
def test_bloom_prune_join_equals_plain_join(spark, fact_keys, dim_keys, m):
    """For ANY key multisets — including negative keys, duplicates, an
    empty dim, and a tiny m where false positives are common — the
    Bloom-pruned join must equal the plain join exactly, and the prune
    alone must never drop a true match (no false negatives)."""
    from xeloader_spark.operators import skew

    fact = spark.createDataFrame(
        [(i, k) for i, k in enumerate(fact_keys)], "fid long, fk long"
    )
    dim = spark.createDataFrame(
        [(i, k) for i, k in enumerate(dim_keys)] or [(0, None)],
        "did long, dk long",
    ).filter(F.col("dk").isNotNull())
    plain = {
        (r.fid, r.did)
        for r in fact.join(dim, fact.fk == dim.dk).select("fid", "did").collect()
    }
    pruned_join = {
        (r.fid, r.did)
        for r in skew.bloom_prune_join(fact, dim, "fk", "dk", m=m)
        .select("fid", "did")
        .collect()
    }
    assert pruned_join == plain
    survivors = {
        r.fid for r in skew.bloom_prune(fact, dim, "fk", "dk", m=m).collect()
    }
    true_fids = {fid for fid, _ in plain}
    assert true_fids <= survivors


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # window index (hour)
            st.lists(
                st.integers(min_value=1, max_value=8),
                min_size=1,
                max_size=5,
            ),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_windowed_pair_counts_sum_to_running_counts(spark, baskets):
    """Windowed/running itemset consistency: for ANY stream of baskets,
    the per-window pair supports (the bounded-state windowed twin's
    aggregate) summed across windows must equal the running pair
    supports (the since-epoch twin's aggregate) — windowing partitions
    the baskets, it must never create or lose a pair."""
    from xeloader_spark.streaming.itemset_stream import (
        PAIR_EXPR,
        basket_pairs_counts,
    )

    rows = [
        (i, dt.datetime(2024, 1, 1, h, 30), sorted(set(items)))
        for i, (h, items) in enumerate(baskets)
    ]
    df = spark.createDataFrame(
        rows, "basket long, ts timestamp, items array<long>"
    )
    windowed = (
        df.select(
            F.window("ts", "1 hour").alias("win"),
            F.explode(F.expr(PAIR_EXPR)).alias("p"),
        )
        .groupBy("win", "p.item_a", "p.item_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    summed = {
        (r.item_a, r.item_b): r.total
        for r in windowed.groupBy("item_a", "item_b")
        .agg(F.sum("c").cast("long").alias("total"))
        .collect()
    }
    running = {
        (r.item_a, r.item_b): r.pair_support
        for r in basket_pairs_counts(df).collect()
    }
    assert summed == running


@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("ab \t\n"), min_size=0, max_size=30
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_token_diversity_matches_python_model(spark, texts):
    """q_token_diversity's per-doc Simpson arithmetic vs a pure-Python
    Counter model, on adversarial whitespace (empty docs, single tokens,
    all-duplicate docs): n, distinct count, and the unbiased repeat
    probability Σc(c−1)/(n(n−1)) must agree exactly, including the n<2
    guard."""
    from collections import Counter

    from xeloader_spark.operators.text import _tok_array

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    toks = _tok_array("text")
    counts = (
        "transform(array_distinct(_toks), "
        "t -> CAST(size(filter(_toks, x -> x = t)) AS BIGINT))"
    )
    n = "CAST(size(_toks) AS BIGINT)"
    num = f"aggregate({counts}, 0L, (s, c) -> s + c * (c - 1))"
    got = {
        r.doc_id: (r.n_tokens, r.distinct_tokens, r.repeat_prob)
        for r in df.select("doc_id", F.expr(toks).alias("_toks"))
        .select(
            "doc_id",
            F.expr(n).alias("n_tokens"),
            F.expr("CAST(size(array_distinct(_toks)) AS BIGINT)").alias(
                "distinct_tokens"
            ),
            F.expr(
                f"CASE WHEN {n} < 2 THEN CAST(0.0 AS DOUBLE)"
                f" ELSE CAST({num} AS DOUBLE) / CAST({n} * ({n} - 1) AS DOUBLE)"
                " END"
            ).alias("repeat_prob"),
        )
        .collect()
    }
    for i, t in enumerate(texts):
        c = Counter(t.split())
        nn = sum(c.values())
        expect_rp = (
            0.0
            if nn < 2
            else sum(v * (v - 1) for v in c.values()) / (nn * (nn - 1))
        )
        assert got[i] == (nn, len(c), expect_rp), (i, t, got[i])


# ------------------------------- literal-rendering overflow (r6 class)
# The BM25-stream folded-idf int32 overflow (ANSI crash at plan time,
# invisible at fixture scale) is a CLASS: any helper that renders folded
# integer products into SQL strings can overflow past fixture magnitudes
# if a literal lands as int32. These properties push boundary magnitudes
# through the three literal-packing helpers and assert the rendered SQL
# round-trips through spark.sql to the exact Python-model value — an
# ARITHMETIC_OVERFLOW at plan or run time fails loudly.


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(0, 2**44), min_size=16, max_size=16),
    st.lists(st.integers(0, 3), min_size=4, max_size=4),
)
def test_adc_map_literal_boundary_roundtrip(spark, flat, codes):
    """_adc_map_exprs with entries far past int32: the rendered map +
    lookup sum must evaluate to the exact Python sum (m=4, stride=4)."""
    from xeloader_spark.operators.cluster import _adc_map_exprs

    m, stride = 4, 4
    dtab = {7: [flat[s * stride:(s + 1) * stride] for s in range(m)]}
    map_sql, terms_sql = _adc_map_exprs(dtab, [7], m, stride)
    code_cols = ", ".join(
        f"CAST({c} AS INT) AS code_{s}" for s, c in enumerate(codes)
    )
    row = spark.sql(
        f"SELECT {terms_sql} AS v FROM (SELECT {map_sql} AS _adc, "
        f"7L AS query_id, {code_cols} FROM (SELECT 7L AS query_id))"
    ).collect()
    expected = sum(dtab[7][s][codes[s]] for s in range(m))
    assert row[0].v == expected


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(
    st.integers(1, 10**8),
    st.data(),
    st.integers(0, 10**5),
    st.integers(0, 10**14),
)
def test_bm25_contrib_literal_stats_boundary(spark, n_docs, data, tf, dlnorm):
    """bm25_contrib_sqls fed LITERAL stats fragments (the frozen-stats
    streaming path) at corpus magnitudes to the documented 10^8-doc
    headroom: the rendered contribution must equal the integer model.
    Without the L-suffix rendering this crashes at N−df ≥ 1074 (the r6
    int32 ARITHMETIC_OVERFLOW, commit 7af35b2)."""
    from xeloader_spark.operators.text import bm25_contrib_sqls

    df_ = data.draw(st.integers(0, n_docs))
    a, c, p, q = 6, 5, 3, 4
    idf_scale, sat_scale, dl_scale = 10**6, 10**4, 10**6
    [contrib] = bm25_contrib_sqls(
        1, (a, c), (p, q), idf_scale, sat_scale, dl_scale,
        n_docs_sql=f"{n_docs}L", df_sqls=[f"{df_}L"],
    )
    row = spark.sql(
        f"SELECT {contrib} AS v FROM "
        f"(SELECT {tf}L AS _tf0, {dlnorm}L AS _dlnorm)"
    ).collect()
    if tf == 0 or df_ == 0:
        expected = 0
    else:
        idf = ((2 * (n_docs - df_) + 1) * idf_scale) // (2 * df_ + 1)
        sat_num = tf * (a + c) * q * dl_scale * sat_scale
        sat_den = c * q * dl_scale * tf + a * (q - p) * dl_scale + a * p * dlnorm
        expected = (idf * (sat_num // sat_den)) // sat_scale
    assert row[0].v == expected


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(-(2**29), 2**29), min_size=4, max_size=4),
    st.lists(st.integers(-(2**29), 2**29), min_size=4, max_size=4),
)
def test_dist_sql_literal_vector_boundary(spark, centroid, vec):
    """_dist_sql with coordinates far past int32 (±2^29, dim 4 — inside
    the BIGINT headroom): squared-L2 to the literal centroid must equal
    the Python model exactly."""
    from xeloader_spark.operators.cluster import _dist_sql

    arr = ",".join(f"{v}L" for v in vec)
    row = spark.sql(
        f"SELECT {_dist_sql(centroid, f'array({arr})')} AS v"
    ).collect()
    assert row[0].v == sum((x - y) ** 2 for x, y in zip(vec, centroid))


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from("ab cd ef gh ij".split()), max_size=14),
        min_size=1,
        max_size=6,
    )
)
def test_winnowing_matches_python_model(spark, token_lists):
    """Winnowing selections (k=3, w=3) == the direct python algorithm
    (rightmost minimal k-gram hash per window, distinct) for any token
    sequence, including docs shorter than k, shorter than w+k−1, and
    all-equal-hash runs."""
    import hashlib

    from xeloader_spark.operators.text import winnowing_fingerprints

    k, w = 3, 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in winnowing_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))

    for i, toks in enumerate(token_lists):
        toks = [t for t in toks if t]
        exp = set()
        if len(toks) >= k:
            hs = [
                int(
                    hashlib.md5(" ".join(toks[j:j + k]).encode()).hexdigest()[:15],
                    16,
                )
                for j in range(len(toks) - k + 1)
            ]
            for j in range(0, max(len(hs) - w, 0) + 1):
                win = hs[j:j + w]
                mn = min(win)
                exp.add((j + max(p for p, v in enumerate(win) if v == mn), mn))
        assert got.get(i, set()) == exp, (i, toks)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from("aa bb cc dd".split()), max_size=10),
        min_size=2,
        max_size=10,
    )
)
def test_bigram_backoff_matches_python_model(spark, token_lists):
    """bigram_stupid_backoff == the direct python model for any corpus:
    md5 train gate, bigram/unigram counts on the train split, per-held-
    out-position score c12·S DIV c1 (seen) or 2·S·c2 DIV 5N (backoff),
    including empty train splits and <2-token held-out docs."""
    import hashlib

    from xeloader_spark.operators.text import bigram_stupid_backoff

    SCALE = 1_000_000
    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_bigrams, r.n_backoff, r.sum_score_scaled)
        for r in bigram_stupid_backoff(df).collect()
    }

    def gate(i):
        h = hashlib.md5(f"lmtrain{i}".encode()).hexdigest()[:8]
        return int(h, 16) % 10_000 < 5_000

    corpus = {i: [t for t in toks if t] for i, toks in enumerate(token_lists)}
    train = {i: t for i, t in corpus.items() if gate(i)}
    ug, bi, n_train = {}, {}, 0
    for toks in train.values():
        n_train += len(toks)
        for t in toks:
            ug[t] = ug.get(t, 0) + 1
        for a, b in zip(toks, toks[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1

    exp_ids = {i for i in corpus if not gate(i)}
    assert set(got) == exp_ids
    for i in exp_ids:
        toks = corpus[i]
        nb = nbo = ss = 0
        for a, b in zip(toks, toks[1:]):
            nb += 1
            if (a, b) in bi:
                ss += (bi[(a, b)] * SCALE) // ug[a]
            else:
                nbo += 1
                if n_train > 0:
                    ss += (2 * SCALE * ug.get(b, 0)) // (5 * n_train)
        assert got[i] == (nb, nbo, ss), (i, got[i], (nb, nbo, ss))


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from("aa bb cc dd ee".split()), max_size=12),
        min_size=2,
        max_size=10,
    )
)
def test_kneser_ney_matches_integer_model_and_tracks_float(spark, token_lists):
    """kneser_ney_score == the direct python integer model exactly for
    any corpus, AND the scaled score stays within 3/SCALE·n_bigrams of
    the true float interpolated-KN sum (each position loses < 2/S to
    the two nested DIVs plus < 1/S in Pcont) — so the fixed-point form
    is the float formula up to documented truncation, not a different
    quantity."""
    import hashlib

    from xeloader_spark.operators.text import kneser_ney_score

    S = 1_000_000
    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_bigrams, r.n_unseen_ctx, r.sum_score_scaled)
        for r in kneser_ney_score(df).collect()
    }

    def gate(i):
        return int(hashlib.md5(f"lmtrain{i}".encode()).hexdigest()[:8], 16) % 10_000 < 5_000

    corpus = {i: [t for t in toks if t] for i, toks in enumerate(token_lists)}
    bi = {}
    for i, toks in corpus.items():
        if gate(i):
            for a, b in zip(toks, toks[1:]):
                bi[(a, b)] = bi.get((a, b), 0) + 1
    ctx, nfollow, nprec = {}, {}, {}
    for (a, b), c in bi.items():
        ctx[a] = ctx.get(a, 0) + c
        nfollow[a] = nfollow.get(a, 0) + 1
        nprec[b] = nprec.get(b, 0) + 1
    n_types = len(bi)

    exp_ids = {i for i in corpus if not gate(i)}
    assert set(got) == exp_ids
    for i in exp_ids:
        toks = corpus[i]
        nb = nu = ss = 0
        fs = 0.0
        for a, b in zip(toks, toks[1:]):
            nb += 1
            pcont = (nprec.get(b, 0) * S) // n_types if n_types else 0
            fpcont = nprec.get(b, 0) / n_types if n_types else 0.0
            if a in ctx:
                c12 = bi.get((a, b), 0)
                ss += (max(4 * c12 - 3, 0) * S) // (4 * ctx[a]) + (
                    3 * nfollow[a] * pcont
                ) // (4 * ctx[a])
                fs += max(c12 - 0.75, 0.0) / ctx[a] + (
                    0.75 * nfollow[a] / ctx[a]
                ) * fpcont
            else:
                nu += 1
                ss += pcont
                fs += fpcont
        assert got[i] == (nb, nu, ss), (i, got[i], (nb, nu, ss))
        assert abs(ss - fs * S) <= 3 * nb + 1, (i, ss, fs * S)


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a.com", "b.com", "A.COM"]),
            st.sampled_from(
                [
                    "/", "/x", "/x/y", "/xy", "/z", "/x?q=", "/?l=",
                    # RFC 9309 §2.2.3 specials (r10): '*' runs and
                    # trailing-'$' anchors, incl. empty-segment edges
                    "/x*", "/*y", "/x*y", "/x$", "/x*y$", "/*q=*",
                    "/**z", "/*",
                ]
            ),
            st.booleans(),
        ),
        max_size=8,
    ),
    st.lists(
        st.tuples(
            st.sampled_from(["a.com", "b.com", "c.com"]),
            st.sampled_from(
                [
                    "/",
                    "/x",
                    "/x/y",
                    "/x/yz",
                    "/xy",
                    "/z/q",
                    "/x?q=1",
                    "/x?a=1&q=2",
                    "/?l=de",
                ]
            ),
        ),
        min_size=1,
        max_size=10,
    ),
)
def test_robots_matches_python_rep_model(spark, rules, urls):
    """robots_filter AND robots_filter_table == the direct RFC 9309
    model for any rule set and URL set: most-specific matching PATTERN
    (over path + query; '*' = any run, trailing '$' = end anchor, plain
    rules = prefix) wins by pattern-octet length, Allow wins length
    ties, hosts case-insensitive, no match → allowed. The model is an
    INDEPENDENT Python re translation, not the SQL replayed — it
    catches bugs the shared-template oracles would mirror."""
    import re

    from xeloader_spark.operators.robots import (
        robots_filter,
        robots_filter_table,
    )

    def rep_match(path: str, pat: str) -> bool:
        anchored = pat.endswith("$")
        core = pat[:-1] if anchored else pat
        rx = ".*".join(re.escape(s) for s in core.split("*"))
        return re.match(rx + (r"\Z" if anchored else ""), path) is not None

    rows = [
        (i, f"https://{h}{p}") for i, (h, p) in enumerate(urls)
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {r.id: (r.allowed, r.matched_len) for r in robots_filter(df, rules).collect()}
    if rules:  # table variant needs a non-empty rules frame for schema
        rules_df = spark.createDataFrame(
            rules, "host string, prefix string, allow boolean"
        )
        got_tab = {
            r.id: (r.allowed, r.matched_len)
            for r in robots_filter_table(df, rules_df).collect()
        }
        assert got_tab == got, (got_tab, got, rules)

    for i, (h, p) in enumerate(urls):
        matches = [
            (len(rp), allow)
            for rh, rp, allow in rules
            if rh.lower() == h.lower() and rep_match(p, rp)
        ]
        if matches:
            exp = (max(matches)[1], max(matches)[0])
        else:
            exp = (True, -1)
        assert got[i] == exp, (i, h, p, got[i], exp, rules)


@settings(deadline=None, max_examples=10, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(
                    blacklist_characters="\r'\\",
                    blacklist_categories=("Cs",),
                ),
                max_size=40,
            ),
            st.sampled_from(["200", "404"]),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_warc_synth_parse_roundtrip(spark, payloads):
    """For any payload free of CR (the documented boundary constraint),
    synthesize → parse recovers every record's status and payload
    byte-exactly with len_ok TRUE — the WARC source's lossless
    contract on its own output."""
    from xeloader_spark.sources.warc import parse_warc

    CRLF = "\r\n"
    blob = ""
    for i, (body, status) in enumerate(payloads):
        http = (
            f"HTTP/1.1 {status} OK{CRLF}"
            f"Content-Type: text/plain{CRLF}{CRLF}{body}"
        )
        blob += (
            f"WARC/1.0{CRLF}WARC-Type: response{CRLF}"
            f"WARC-Target-URI: https://h/{i}{CRLF}"
            f"WARC-Record-ID: <urn:uuid:{i}>{CRLF}"
            f"Content-Length: {len(http.encode('utf-8'))}{CRLF}{CRLF}"
            f"{http}{CRLF}{CRLF}"
        )
    df = spark.createDataFrame([(1, blob)], "warc_file long, warc_blob string")
    rows = {r.rec_seq: r for r in parse_warc(df).collect()}
    assert len(rows) == len(payloads)
    for i, (body, status) in enumerate(payloads):
        r = rows[i]
        assert r.http_status == int(status)
        assert r.payload == body, (i, repr(r.payload), repr(body))
        assert r.target_uri == f"https://h/{i}"


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        min_size=1,
        max_size=40,
    ),
    st.integers(1, 4),
)
def test_harmonic_centrality_matches_python_bfs(spark, edge_list, rounds):
    """Exact bounded-hop harmonic == a direct python BFS model for any
    small digraph and hop budget: H(v) = Σ scale//d(w→v) over sources
    w reaching v within `rounds` hops (self-loops and duplicate edges
    allowed — the operator dedups)."""
    from xeloader_spark.operators.graph import harmonic_centrality

    SCALE = 1_200_000_000
    edges = sorted(set(edge_list))
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.id: (r.harmonic_scaled, r.n_reaching)
        for r in harmonic_centrality(df, rounds=rounds, scale=SCALE).collect()
    }

    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    exp = {}
    for srcn in nodes:
        dist = {srcn: 0}
        frontier = [srcn]
        for d in range(1, rounds + 1):
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = d
                        nxt.append(v)
            frontier = nxt
        for v, d in dist.items():
            if d > 0:
                h, n = exp.get(v, (0, 0))
                exp[v] = (h + SCALE // d, n + 1)
    full = {v: exp.get(v, (0, 0)) for v in nodes}
    assert got == full, (got, full, edges, rounds)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.sampled_from(
            [
                "https://x.com/a",
                "http://Y.org/b/c",
                "HTTP://UP.example/Z",
                "HTTPS://Mixed.Org/q",
                "/rel/path",
                "/",
                "//cdn.net/j.js",
                "#frag",
                "mailto:a@b.co",
                "javascript:void(0)",
                "ftp://old.net/f",
            ]
        ),
        min_size=0,
        max_size=6,
    )
)
def test_extract_links_matches_python_model(spark, hrefs):
    """extract_links == the direct model for any anchor sequence:
    absolute http(s) pass through (scheme case-insensitive — r9),
    leading-'/' resolves against the source host, everything else
    (protocol-relative, fragment, mailto, javascript, non-http
    schemes) drops. Anchor forms cycle through first-attribute
    lowercase double-quoted, attribute-prefixed uppercase (r9),
    single-quoted, and unquoted with spaces around '=' (r10 widening),
    so the pattern family's recall cases are all exercised."""
    from xeloader_spark.operators.links import extract_links

    html = (
        # decoy: an attribute whose NAME merely ends in 'href' must
        # never be extracted (r9 review — the boundary in HREF_RE)
        '<p>t</p><a data-href="https://decoy.example/no">d</a>'
        + "".join(
            [
                f'<a href="{h}">x</a>',
                f'<A CLASS="k"\n\tHREF="{h}">x</A>',
                f"<a href='{h}' rel='x'>x</a>",
                f"<a href = {h} rel=nofollow>x</a>",
            ][i % 4]
            for i, h in enumerate(hrefs)
        )
    )
    df = spark.createDataFrame(
        [(1, "src.host", html)], "doc_id long, src_host string, html string"
    )
    got = sorted(
        (r.href, r.dst_url, r.dst_host)
        for r in extract_links(df).collect()
    )
    exp = []
    for h in hrefs:
        if h.lower().startswith(("http://", "https://")):
            dst = h
        elif h.startswith("//"):
            continue
        elif h.startswith("/"):
            dst = "https://src.host" + h
        else:
            continue
        import re as _re

        m = _re.match(r"^[a-zA-Z]+://([^/:?#]+)", dst)
        exp.append((h, dst, m.group(1).lower() if m else ""))
    assert got == sorted(exp), (got, exp, hrefs)


# --- round-9 operator properties -------------------------------------------


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_redirect_doubling_matches_linear_on_random_graphs(spark, pairs):
    """Pointer doubling must agree with the linear one-edge-at-a-time
    follow on ARBITRARY functional graphs — chains, trees into cycles,
    self-loops, whatever Hypothesis dreams up. Duplicate srcs are
    deduped (the operator's functional-map contract)."""
    import duckdb

    from xeloader_spark.operators.crawl import (
        redirects_oracle_sql,
        resolve_redirects,
    )

    fn: dict[int, int] = {}
    for a, b in pairs:
        fn.setdefault(a, b)
    edges = [(f"u{a}", f"u{b}") for a, b in fn.items()]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = sorted(
        (r.url, r.terminal_url, r.n_hops, r.resolved)
        for r in resolve_redirects(df, max_hops=8).collect()
    )
    vals = ", ".join(f"('{a}','{b}')" for a, b in edges)
    con = duckdb.connect()
    try:
        want = sorted(
            tuple(r)
            for r in con.execute(
                redirects_oracle_sql(
                    f"SELECT * FROM (VALUES {vals}) t(src, dst)", 8
                )
            ).fetchall()
        )
    finally:
        con.close()
    assert got == want


_TOKENS = st.sampled_from(["a", "b", "ab", "zz"])
_DOC_TEXT = st.lists(_TOKENS, min_size=0, max_size=12).map(" ".join)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(_DOC_TEXT, min_size=1, max_size=6),
    st.lists(
        st.lists(_TOKENS, min_size=1, max_size=3).map(" ".join),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
def test_phrase_index_and_literal_forms_agree(spark, texts, phrases):
    """The postings-index matcher and the stateless literal-HOF twin
    must agree on random repeated-token corpora — the overlap cases
    (phrase 'a a' over 'a a a a') are exactly what Hypothesis hits."""
    from xeloader_spark.operators.phrase import phrase_match
    from xeloader_spark.streaming.phrase_stream import match_phrases

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    pdf = spark.createDataFrame([(p,) for p in phrases], "phrase string")
    via_index = {
        (r.phrase, r.doc_id): (r.first_idx, r.n_matches)
        for r in phrase_match(docs, pdf).collect()
    }
    via_literal = {
        (r.phrase, r.doc_id): (r.first_idx, r.n_matches)
        for r in match_phrases(docs, list(phrases)).collect()
    }
    assert via_index == via_literal


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from(["x", "y", "zz", ""]), max_size=5).map(
            "\n".join
        ),
        min_size=1,
        max_size=6,
    )
)
def test_line_dedup_conservation(spark, texts):
    """Invariants on random corpora: every distinct non-empty line
    survives EXACTLY once across all clean_texts (conservation), and
    per-doc n_kept <= n_lines with clean_text holding exactly n_kept
    lines."""
    from xeloader_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = line_dedup(docs).collect()
    all_lines = [
        ln
        for t in texts
        for ln in (s.strip() for s in t.split("\n"))
        if ln != ""
    ]
    kept = [
        ln for r in rows if r.clean_text != "" for ln in r.clean_text.split("\n")
    ]
    assert sorted(set(all_lines)) == sorted(kept)  # once each, exactly
    for r in rows:
        assert 0 <= r.n_kept <= r.n_lines
        n_in_text = 0 if r.clean_text == "" else len(r.clean_text.split("\n"))
        assert n_in_text == r.n_kept


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(0, 40), min_size=1, max_size=30, unique=True),
    st.lists(st.integers(0, 40), max_size=30, unique=True),
    st.data(),
)
def test_recrawl_delta_matches_python_model(spark, sm_ids, state_ids, data):
    """For ANY sitemap/state URL sets with arbitrary (possibly NULL)
    ISO dates, the delta classification matches a pure-Python replay,
    and the three statuses partition the sitemap exactly."""
    from xeloader_spark.operators.crawl import recrawl_delta

    def date_for(seed):
        if seed is None:
            return None
        return f"2026-0{1 + seed % 9}-{1 + seed % 28:02d}"

    sm_rows = [
        (f"u/{i}", date_for(data.draw(st.one_of(st.none(), st.integers(0, 99)))))
        for i in sm_ids
    ]
    state_rows = [
        (f"u/{i}", date_for(data.draw(st.integers(0, 99))))
        for i in state_ids
    ]
    sm = spark.createDataFrame(sm_rows, "loc string, lastmod string")
    state = spark.createDataFrame(
        state_rows, "url string, last_crawled string"
    ) if state_rows else spark.createDataFrame(
        [], "url string, last_crawled string"
    )
    got = {
        r.loc: (r.status, r.needs_fetch)
        for r in recrawl_delta(sm, state).collect()
    }
    crawled = dict(state_rows)
    exp = {}
    for loc, lastmod in sm_rows:
        if loc not in crawled:
            exp[loc] = ("new", True)
        elif lastmod is not None and lastmod > crawled[loc]:
            exp[loc] = ("stale", True)
        else:
            exp[loc] = ("fresh", False)
    assert got == exp
    assert len(got) == len(sm_rows)  # the statuses partition the sitemap


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(0, 1_000), min_size=1, max_size=40),
    st.integers(0, 10_000),
)
def test_crawl_budget_conservation_property(spark, weights, budget):
    """For ANY non-negative weights (Σw > 0) and ANY budget:
    Σ quota == budget EXACTLY, and every quota is within 1 of its ideal
    real share (Hamilton's quota rule) — including budget 0, weights 0,
    budget smaller than the host count, and massive skew."""
    import math

    from hypothesis import assume

    from xeloader_spark.operators.crawl import crawl_budget_allocate

    assume(sum(weights) > 0)
    rows = [(f"h{i:03d}", w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "host string, weight long")
    out = crawl_budget_allocate(df, budget).collect()
    assert len(out) == len(rows)
    assert sum(r.quota for r in out) == budget
    tw = sum(weights)
    wmap = dict(rows)
    for r in out:
        ideal = budget * wmap[r.host] / tw
        assert math.floor(ideal) <= r.quota <= math.ceil(ideal)


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 1_000),
            st.sampled_from([None, 0.0, 0.5, 1.0, 2.5, 10.0, 3600.0]),
        ),
        min_size=1,
        max_size=25,
    ),
    st.integers(0, 5_000),
    st.integers(1, 3_600),
)
def test_feasible_budget_laws_property(spark, hostspecs, budget, cycle_s):
    """For ANY weights and ANY delays — including NULL and the
    ``Crawl-delay: 0`` edge (VERDICT r11 #2) — the politeness-feasible
    allocation satisfies its three laws: delay≤0/NULL ⇒ cap == budget
    (uncapped, never a zero-divide), quota ≤ cap per host, and
    Σ quota == min(budget, Σ cap) — the budget is spent unless
    politeness itself makes that impossible."""
    import math

    from hypothesis import assume

    from xeloader_spark.operators.crawl import feasible_budget_allocate

    assume(sum(w for w, _ in hostspecs) > 0)
    rows = [(f"h{i:03d}", w, d) for i, (w, d) in enumerate(hostspecs)]
    df = spark.createDataFrame(rows, "host string, weight long, delay double")
    out = feasible_budget_allocate(df, budget, cycle_s).collect()
    assert len(out) == len(rows)
    caps = {
        host: (budget if d is None or d <= 0 else math.floor(cycle_s / d) + 1)
        for host, _, d in rows
    }
    for r in out:
        assert r.cap == caps[r.host]
        assert 0 <= r.quota <= r.cap
    assert sum(r.quota for r in out) == min(budget, sum(caps.values()))


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.sets(st.integers(0, 60), max_size=30),
    st.sets(st.integers(0, 60), min_size=1, max_size=30),
    st.data(),
)
def test_crawl_state_merge_matches_python_model(spark, state_ids, fetch_ids, data):
    """For ANY URL-unique state/fetch sets with arbitrary ok flags, the
    merge matches a pure-Python replay: output URLs = state ∪ ok-fetched
    exactly; ok advances the date, failure/no-fetch carries it; actions
    label the three cases correctly."""
    from xeloader_spark.operators.crawl import crawl_state_merge

    state_rows = [(f"u/{i}", f"2026-01-{1 + i % 28:02d}") for i in state_ids]
    fetch_rows = [
        (f"u/{i}", "2026-02-01", data.draw(st.booleans())) for i in fetch_ids
    ]
    state = spark.createDataFrame(
        state_rows, "url string, last_crawled string"
    ) if state_rows else spark.createDataFrame(
        [], "url string, last_crawled string"
    )
    fetched = spark.createDataFrame(
        fetch_rows, "url string, fetch_date string, ok boolean"
    )
    got = {
        r.url: (r.last_crawled, r.merge_action)
        for r in crawl_state_merge(state, fetched).collect()
    }
    old = dict(state_rows)
    exp = {}
    for url, date in state_rows:
        exp[url] = (date, "carried")
    for url, fdate, ok in fetch_rows:
        if ok:
            exp[url] = (fdate, "updated" if url in old else "inserted")
        # not ok: state row (if any) already carried; no-state → no row
    assert got == exp


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.sampled_from([200, 304, 404, 429, 500, 503]),
            min_size=1,
            max_size=20,
        ),
        min_size=1,
        max_size=6,
    ),
    st.data(),
)
def test_host_backoff_matches_python_model(spark, host_logs, data):
    """For ANY per-host status sequences (with optional Retry-After on
    429/503 rows), the aggregate backoff matches a sequential Python
    fold: error counts, the trailing-failure run, the capped
    power-of-two factor, and the ACTIVE Retry-After (spent by any
    later success)."""
    from xeloader_spark.operators.crawl import host_backoff

    rows = []
    exp = {}
    for h, statuses in enumerate(host_logs):
        host = f"h{h}"
        n = errors = trailing = 0
        ra_max = None
        for i, status in enumerate(statuses):
            ra = (
                data.draw(st.one_of(st.none(), st.integers(1, 300)))
                if status in (429, 503)
                else None
            )
            rows.append((host, i, status, ra))
            err = status == 429 or status >= 500
            n += 1
            if err:
                errors += 1
                trailing += 1
            else:
                # a success ends the run AND spends the Retry-After
                # mandate (RFC 9110: it governs the next request)
                trailing = 0
                ra_max = None
            if status in (429, 503) and ra is not None:
                ra_max = ra if ra_max is None else max(ra_max, ra)
        exp[host] = (n, errors, trailing, 2 ** min(trailing, 3), ra_max)
    df = spark.createDataFrame(
        rows, "host string, fetch_idx long, status int, retry_after long"
    )
    got = {
        r.host: (r.n_fetches, r.n_errors, r.trailing_failures,
                 r.backoff_factor, r.retry_after_s)
        for r in host_backoff(df, retry_after_col="retry_after").collect()
    }
    assert got == exp


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.sampled_from([0, 200, 204, 301, 304, 404, 410, 500, 503]),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=6,
    ),
)
def test_robots_cache_policy_matches_python_model(spark, host_logs):
    """For ANY per-host attempt sequences, the cache policy matches a
    pure-Python replay of RFC 9309 §2.4/§2.3.1.3-4: class from the
    latest attempt (304 revalidates like a 2xx), freshness from the
    latest definitive answer."""
    from xeloader_spark.operators.crawl import robots_cache_policy

    now, max_age = 500_000, 86_400
    rows = []
    exp = {}
    for h, statuses in enumerate(host_logs):
        host = f"h{h}"
        # unique, increasing times; stride straddles the 24 h window
        times = [1_000 * h + 50_000 * j for j in range(len(statuses))]
        for t, status in zip(times, statuses):
            rows.append((host, t, status))
        last_status = statuses[-1]
        succ = [
            t for t, s in zip(times, statuses)
            if 200 <= s < 300 or s == 304
        ]
        defin = [
            t for t, s in zip(times, statuses)
            if 200 <= s < 300 or s == 304 or 400 <= s < 500
        ]
        if 200 <= last_status < 300 or last_status == 304:
            cls = "use_robots"
        elif 400 <= last_status < 500:
            cls = "allow_all"
        elif succ:
            cls = "use_cached"
        else:
            cls = "disallow_all"
        exp[host] = (
            cls,
            (not defin) or now - max(defin) > max_age,
        )
    df = spark.createDataFrame(
        rows, "host string, fetched_at_s long, status int"
    )
    got = {
        r.host: (r.access_class, r.refetch_due)
        for r in robots_cache_policy(df, now_s=now, max_age_s=max_age).collect()
    }
    assert got == exp


@settings(deadline=None, max_examples=8, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.lists(
                st.sampled_from(
                    ["a", "b", "p", "q", "2019", "2020", "1999", "", "x" * 60]
                ),
                min_size=0,
                max_size=10,
            ),
            st.lists(
                st.tuples(
                    st.sampled_from(["a", "b", "sid", "PHPSESSID", "x"]),
                    st.sampled_from(["1", "2", "zz"]),
                ),
                min_size=0,
                max_size=10,
            ),
        ),
        min_size=1,
        max_size=6,
    ),
)
def test_url_trap_score_matches_python_model(spark, parts):
    """For ANY path-segment/query-parameter combination, the trap
    scorer's components and graded score match a pure-Python replay of
    the Mercator heuristics — the (VERDICT r12 #4) model pin the
    backoff and cache-policy rails already have. Segments include
    repeats, year-likes, empties (double slashes), and 60-char tokens
    so every weighted signal fires somewhere."""
    import re

    from xeloader_spark.operators.crawl import (
        _TRAP_DATE_RE,
        _TRAP_SESSION_RE,
        url_trap_score,
    )

    rows = []
    exp = []
    for segs, params in parts:
        path = "" if not segs else "/" + "/".join(segs)
        query = "&".join(f"{k}={v}" for k, v in params)
        url = "https://www.ex.com" + path + (("?" + query) if query else "")
        # the model replays the engine split/tail semantics exactly:
        # split('', '/') is [''], tail drops the leading '' element
        tail = path.split("/")[1:]
        depth = len(tail)
        dup = depth - len(set(tail))
        n_params = 0 if query == "" else len(query.split("&"))
        sess = 1 if re.search(_TRAP_SESSION_RE, query) else 0
        dates = len(re.findall(_TRAP_DATE_RE, path))
        score = (
            3 * (dup >= 2)
            + 3 * sess
            + 2 * (depth >= 8)
            + 2 * (dates >= 3)
            + (len(url) >= 512)
            + (n_params >= 8)
        )
        rows.append((url,))
        exp.append(
            (depth, dup, n_params, sess, dates, score, score >= 3)
        )
    df = spark.createDataFrame(rows, "url string")
    got = {
        r.url: (r.path_depth, r.dup_segments, r.n_params,
                r.has_session_param, r.date_segments, r.trap_score,
                r.is_trap)
        for r in url_trap_score(df).collect()
    }
    for (u,), e in zip(rows, exp):
        assert got[u] == e, u
