"""Property-based parity fuzzing (hypothesis).

Two seams where silent divergence would be catastrophic at scale:
1. rule engine (auto) vs the pure-Python oracle — arbitrary unicode text,
2. scrub chain native (Java regex) vs Python `re` — the byte-identical
   invariant, fuzzed over PII-shaped alphabets where Java/RE2/Python corner
   cases live.

Each example evaluates a whole batch of strings in one Spark job so the
suite stays fast.
"""

import pandas as pd
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from data_quality_monitoring_spark.operators.rules import first_hit
from data_quality_monitoring_spark.operators.scrub import scrub_column, scrub_str
from data_quality_monitoring_spark.oracle import rule_first_hit

FUZZ_RULES = [
    {"type": "missing", "error_code": "MISSING"},
    {"type": "empty_string", "error_code": "EMPTY"},
    {"type": "whitespace", "error_code": "WS"},
    {"type": "regex", "pattern": r"\d{3,}", "error_code": "RX"},
    {"type": "min_words", "min_words": 3, "error_code": "NW"},
    {"type": "max_digit_ratio", "max_ratio": 0.4, "error_code": "DIG"},
    {"type": "max_symbol_ratio", "max_ratio": 0.4, "error_code": "SYM"},
    {"type": "min_distinct_word_ratio", "min_ratio": 0.4, "error_code": "REP"},
    {"type": "min_alpha_word_ratio", "min_ratio": 0.6, "error_code": "AWR"},
    {"type": "max_bullet_ratio", "max_ratio": 0.5, "error_code": "BULLET"},
    {"type": "max_ellipsis_line_ratio", "max_ratio": 0.3, "error_code": "ELLIP"},
    {"type": "parenthesis_check", "error_code": "PAREN"},
    {"type": "contradiction_check", "contradiction_pairs": [["hot", "cold"]], "error_code": "CONTRA"},
]

texts = st.lists(
    st.one_of(
        st.none(),
        st.text(max_size=120),
        st.text(alphabet="abc 0123()!%hotcold\t\n", max_size=120),
        st.text(alphabet="a .•-*\n…\r\t", max_size=120),  # bullet/ellipsis layouts incl. CRLF/tab padding
    ),
    min_size=1,
    max_size=60,
)

pii_texts = st.lists(
    st.text(alphabet="abz@. -+()0123456789frakking", max_size=120),
    min_size=1,
    max_size=60,
)


@settings(max_examples=15, deadline=None)
@given(texts)
def test_rule_engine_matches_oracle_fuzz(spark, values):
    df = spark.createDataFrame(pd.DataFrame({"v": pd.Series(values, dtype="object")}))
    got = [
        None if f is None else f["code"]
        for f in df.select(first_hit(F.col("v"), FUZZ_RULES).alias("f")).toPandas()["f"]
    ]
    want = [
        None if (f := rule_first_hit(v, FUZZ_RULES)) is None else f["code"] for v in values
    ]
    assert got == want


PATTERN_CFG = {
    "format_patterns": [r"[a-z]{2}"],
    "max_length": 2,
    "min_length": 2,
    "known_values": ["en", "de", "nl", "fr", "# comment"],
}

# whitespace-padded short codes: the seam where F.trim (ASCII space only)
# diverged from the reference's str.strip() — fuzz the full class
lang_like = st.lists(
    st.one_of(
        st.none(),
        st.text(alphabet="endefr \t\n\r\f\x0b", max_size=8),
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=15, deadline=None)
@given(lang_like)
def test_pattern_detector_matches_oracle_fuzz(spark, values):
    from data_quality_monitoring_spark.operators.patterns import pattern_finding
    from data_quality_monitoring_spark.oracle import pattern_detect

    df = spark.createDataFrame(pd.DataFrame({"v": pd.Series(values, dtype="object")}))
    got = [
        None if f is None else (f["code"], f["probability"])
        for f in df.select(pattern_finding(F.col("v"), PATTERN_CFG).alias("f")).toPandas()["f"]
    ]
    want = [
        None if (f := pattern_detect(v, PATTERN_CFG)) is None else (f["code"], f["probability"])
        for v in values
    ]
    assert got == want


# every SQL-expressible reference rule type — the triple-parity seam:
# Spark batched engine (Python re) vs pure-Python oracle vs the DuckDB SQL
# compiler (RE2).  ASCII-only patterns so the three regex dialects agree by
# construction; divergence here means a compiler bug, not a dialect gap.
TRIPLE_RULES = [
    {"type": "missing", "error_code": "MISSING"},
    {"type": "empty_string", "error_code": "EMPTY"},
    {"type": "whitespace", "error_code": "WS"},
    {"type": "max_length", "max_length": 60, "error_code": "LONG"},
    {"type": "regex", "pattern": r"\d{3,}", "exclude_patterns": [r"\d+%"], "error_code": "RX"},
    {"type": "regex_multiple", "patterns": [r"hot{2,}", r"x\.\d"], "error_code": "RXM"},
    {"type": "keyword_check", "required_keywords": ["hot", "cold"], "error_code": "KW"},
    {"type": "percentage_sum_check", "tolerance": 0.5, "error_code": "PCT"},
    {"type": "parenthesis_check", "error_code": "PAREN"},
    {"type": "year_range_check", "min_year": 1990, "max_year": 2030, "error_code": "YEAR"},
    {"type": "contradiction_check", "contradiction_pairs": [["hot", "cold"]], "error_code": "CONTRA"},
]

triple_texts = st.lists(
    st.one_of(
        st.none(),
        st.text(alphabet="hotcld 0123456789%()[]\t\n.x", max_size=80),
        st.text(max_size=40),
    ),
    min_size=1,
    max_size=50,
)


@settings(max_examples=15, deadline=None)
@given(triple_texts)
def test_rule_compiler_triple_parity_fuzz(spark, values):
    """Spark auto engine == Python oracle == DuckDB SQL rule compiler."""
    import duckdb

    from data_quality_monitoring_spark.oracle_sql import (
        first_hit_index_sql,
        sql_safe_rules,
    )

    rules = sql_safe_rules(TRIPLE_RULES)
    assert len(rules) == len(TRIPLE_RULES)  # all of these must be SQL-safe

    df = spark.createDataFrame(pd.DataFrame({"v": pd.Series(values, dtype="object")}))
    got_spark = [
        None if f is None else f["code"]
        for f in df.select(first_hit(F.col("v"), rules).alias("f")).toPandas()["f"]
    ]
    got_python = [
        None if (f := rule_first_hit(v, rules)) is None else f["code"] for v in values
    ]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(values)), "v": pd.Series(values, dtype="object")}))
    idx = first_hit_index_sql("v", rules)
    hits = con.execute(f"SELECT {idx} AS h FROM t ORDER BY i").df()["h"]
    got_sql = [None if pd.isna(h) else rules[int(h)]["error_code"] for h in hits]
    assert got_spark == got_python == got_sql


@settings(max_examples=15, deadline=None)
@given(pii_texts)
def test_scrub_native_matches_python_fuzz(spark, values):
    df = spark.createDataFrame(pd.DataFrame({"t": pd.Series(values, dtype="object")}))
    native = [r["s"] for r in df.select(scrub_column(F.col("t")).alias("s")).collect()]
    python = [scrub_str(t) for t in values]
    assert native == python


@settings(max_examples=15, deadline=None)
@given(pii_texts)
def test_scrub_triple_parity_fuzz(spark, values):
    """Java regexp_replace == Python re.sub == DuckDB RE2 'g' on the scrub
    chain — three regex engines, one byte-identity invariant."""
    import duckdb

    from data_quality_monitoring_spark.operators.scrub import scrub_sql

    df = spark.createDataFrame(pd.DataFrame({"t": pd.Series(values, dtype="object")}))
    native = [r["s"] for r in df.select(scrub_column(F.col("t")).alias("s")).collect()]
    python = [scrub_str(t) for t in values]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(values)), "t": pd.Series(values, dtype="object")}))
    sql = [r[0] for r in con.execute(f"SELECT {scrub_sql('t')} FROM t ORDER BY i").fetchall()]
    assert native == python == sql


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.text(alphabet="abcde'", min_size=1, max_size=6), min_size=1, max_size=12),
    st.lists(st.text(alphabet="abcdef'", min_size=1, max_size=8), min_size=1, max_size=20),
)
def test_bpe_greedy_match_duckdb_parity_fuzz(pieces, words):
    """Python greedy longest-match == the recursive-CTE greedy matcher the
    sequence_packing_bpe oracle embeds — on arbitrary piece inventories and
    words (including chars absent from every piece: 1-piece-per-char
    fallback)."""
    import duckdb

    from data_quality_monitoring_spark.operators.bpe import (
        greedy_piece_count,
        pieces_values_sql,
    )

    piece_set = frozenset(pieces)
    max_len = max(len(p) for p in piece_set)
    py = {w: greedy_piece_count(w, piece_set, max_len) for w in set(words)}
    con = duckdb.connect()
    con.register("w", pd.DataFrame({"w": sorted(set(words))}))
    sql = f"""
WITH RECURSIVE pieces(p, l) AS (SELECT * FROM {pieces_values_sql(sorted(piece_set))}),
seg(w, pos, n) AS (
  SELECT w, 1, 0 FROM w
  UNION ALL
  SELECT w,
         pos + coalesce((SELECT max(l) FROM pieces WHERE p = substr(seg.w, seg.pos, l)), 1),
         n + 1
  FROM seg WHERE pos <= length(w)
)
SELECT w, max(n) FROM seg GROUP BY w
"""
    duck = dict(con.execute(sql).fetchall())
    assert py == duck


# ---------------------------------------------------------------- URL canon

_TRACK_RE_PY = r"^(utm_[^=]*|fbclid|gclid|msclkid|mc_cid|mc_eid|ref)(=.*)?$"


def _canon_py(url: str) -> str:
    """Independent pure-Python canonicalizer (Python `re` vs Spark's Java
    regex — the same two-engine seam as the scrub fuzz above)."""
    import re as _re

    u = _re.sub(r"#.*$", "", url)
    m = _re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://", u)
    scheme = m.group(1).lower() if m else ""
    rest = _re.sub(r"^[A-Za-z][A-Za-z0-9+.-]*://", "", u)
    hostport = _re.match(r"^([^/?]*)", rest).group(1)
    pathq = rest[len(hostport):]
    host = _re.sub(r"^www\.", "", _re.match(r"^([^:]*)", hostport).group(1).lower())
    pm = _re.search(r":([0-9]+)$", hostport)
    port = pm.group(1) if pm else ""
    if port == "" or (scheme == "http" and port == "80") or (scheme == "https" and port == "443"):
        port_part = ""
    else:
        port_part = ":" + port
    path = _re.match(r"^([^?]*)", pathq).group(1)
    path = _re.sub(r"/{2,}", "/", path)
    path = _re.sub(r"/$", "", path)
    qm = _re.search(r"\?(.*)$", pathq)
    query = qm.group(1) if qm else ""
    params = sorted(p for p in query.split("&") if p and not _re.match(_TRACK_RE_PY, p))
    query_part = "?" + "&".join(params) if params else ""
    return scheme + "://" + host + port_part + path + query_part


_url_parts = st.builds(
    lambda scheme, www, host, port, segs, slashes, trail, params, frag: (
        scheme
        + "://"
        + www
        + host
        + (f":{port}" if port else "")
        + "".join("/" * s + seg for s, seg in zip(slashes, segs))
        + ("/" if trail else "")
        + ("?" + "&".join(params) if params else "")
        + ("#x y#" if frag else "")
    ),
    scheme=st.sampled_from(["http", "https", "HTTP", "HtTpS", "ftp"]),
    www=st.sampled_from(["", "www.", "WWW.", "wwwx."]),
    host=st.text(alphabet="aB9.-", min_size=1, max_size=12),
    port=st.sampled_from([None, 80, 443, 8080]),
    segs=st.lists(st.text(alphabet="aZ0._~%", max_size=6), max_size=4),
    slashes=st.lists(st.integers(min_value=1, max_value=3), min_size=4, max_size=4),
    trail=st.booleans(),
    params=st.lists(
        st.sampled_from(
            ["a=1", "b=2", "zz", "id=9", "utm_source=x", "utm_x", "ref=hn",
             "fbclid=1", "gclid", "a=", "=v", "A=1"]
        ),
        max_size=5,
    ),
    frag=st.booleans(),
)


@settings(max_examples=15, deadline=None)
@given(st.lists(_url_parts, min_size=1, max_size=60))
def test_url_canonicalize_matches_python_fuzz(spark, urls):
    from data_quality_monitoring_spark.operators.urls import canonicalize_url

    df = spark.createDataFrame(pd.DataFrame({"u": pd.Series(urls, dtype="object")}))
    got = [r[0] for r in df.select(canonicalize_url(F.col("u"))).collect()]
    want = [_canon_py(u) for u in urls]
    assert got == want


# ---------------------------------------------------------------- WARC parse

_warc_rec = st.builds(
    lambda rtype, uri, body, http: (
        rtype,
        uri,
        body,
        http and rtype == "response",
    ),
    rtype=st.sampled_from(["response", "request", "metadata"]),
    uri=st.text(alphabet="ab/:.%-9", min_size=1, max_size=20).map(lambda s: "http://" + s),
    body=st.binary(max_size=200).filter(lambda b: not b.startswith(b"HTTP/")),
    http=st.booleans(),
)


@settings(max_examples=40, deadline=None)
@given(st.lists(_warc_rec, min_size=1, max_size=8))
def test_warc_parse_roundtrip_fuzz(recs):
    """Records built from arbitrary parts parse back exactly (count, order,
    type, uri, payload bytes, HTTP-header stripping) — pure function, no
    Spark needed."""
    from data_quality_monitoring_spark.sources.warc import parse_warc_bytes

    blob = b""
    for rtype, uri, body, with_http in recs:
        payload = (b"HTTP/1.1 200 OK\r\nX: y\r\n\r\n" + body) if with_http else body
        blob += (
            b"WARC/1.0\r\n"
            b"WARC-Type: " + rtype.encode() + b"\r\n"
            b"WARC-Target-URI: " + uri.encode() + b"\r\n"
            b"WARC-Date: 2024-01-02T03:04:05Z\r\n"
            b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n"
            + payload + b"\r\n\r\n"
        )
    got = parse_warc_bytes(blob)
    assert len(got) == len(recs)
    for g, (rtype, uri, body, _http) in zip(got, recs):
        assert g["warc_type"] == rtype
        assert g["url"] == uri
        assert bytes(g["html"]) == body


# ------------------------------------------------------------- mixture greedy

@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # doc_id (deduped below)
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=1, max_value=400),  # n_tokens
        ),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t[0],
    ),
    budget=st.integers(min_value=1, max_value=3_000),
)
def test_mixture_sample_matches_python_greedy_fuzz(spark, docs, budget):
    """The Spark window implementation agrees with an independent Python
    greedy-prefix reference on arbitrary corpora and budgets."""
    import hashlib

    from data_quality_monitoring_spark.operators.sampling import mixture_sample

    weights = {"a": 2.0, "b": 1.0}  # 'c' has no weight row → never kept
    df = spark.createDataFrame(docs, "doc_id long, source string, n_tokens int")
    wdf = spark.createDataFrame(list(weights.items()), "source string, weight double")
    got = {
        r["doc_id"]: r["mix_keep"]
        for r in mixture_sample(df, wdf, token_budget=float(budget)).collect()
    }

    total_w = sum(weights.values())
    want = {}
    for src in {d[1] for d in docs}:
        quota = budget * weights.get(src, 0.0) / total_w if src in weights else None
        ordered = sorted(
            (d for d in docs if d[1] == src),
            key=lambda d: hashlib.md5(str(d[0]).encode()).hexdigest(),
        )
        cum = 0
        for did, _, tok in ordered:
            want[did] = quota is not None and cum < quota
            cum += tok
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=400),
    st.sampled_from([8000, 16000, 44100]),
    st.sampled_from([1, 2]),
)
def test_wav_codec_roundtrip_fuzz(samples, sr, ch):
    """WAV decode inverts the stdlib encode for arbitrary PCM16 streams:
    header fields and every integer-exact feature match a straight numpy
    computation over the original samples (local-only — the distributed
    path is the same function via mapInPandas, covered elsewhere)."""
    import io
    import math
    import wave

    import numpy as np

    from data_quality_monitoring_spark.operators.multimodal import decode_wav_bytes

    arr = np.array(samples, dtype="<i2")
    if ch == 2 and len(arr) % 2:
        arr = arr[:-1]  # whole frames only
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(ch)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(arr.tobytes())
    meta = decode_wav_bytes(buf.getvalue())
    a = arr.astype(np.int64)
    assert meta["sample_rate"] == sr and meta["channels"] == ch
    assert meta["n_samples"] == len(a)
    assert meta["sum_sq"] == int((a * a).sum())
    assert meta["peak"] == (int(np.abs(a).max()) if len(a) else 0)
    assert meta["zero_crossings"] == (int(((a[:-1] * a[1:]) < 0).sum()) if len(a) > 1 else 0)
    # one correctly rounded sqrt, as documented; x ** 0.5 (C pow) can be
    # 1 ulp off it, e.g. on [12730, 21751, 21751, 24199, 24199, 26293,
    # 26453, 28039]
    want_rms = math.sqrt(meta["sum_sq"] / len(a)) if len(a) else 0.0
    assert meta["rms"] == want_rms
