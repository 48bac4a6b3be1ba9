"""Property-based tests (hypothesis): the rule compiler vs a Python
reference model of pandas mask semantics, and the cast ladders vs the
reference's conversion tables."""

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_core_spark.functions.casts import FALSE_STRINGS, NULL_STRINGS, TRUE_STRINGS, CastError
from etl_core_spark.functions.rules import ComparisonRule, LogicalRule, compile_rule
from etl_core_spark.operators.base import get_operator

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

scalar = st.one_of(st.none(), st.integers(-100, 100))
leaf = st.builds(
    ComparisonRule,
    column=st.just("v"),
    operator=st.sampled_from(["==", "!=", ">", "<", ">=", "<="]),
    value=st.integers(-100, 100),
)
rule_tree = st.recursive(
    leaf,
    lambda children: st.one_of(
        st.builds(LogicalRule, operator=st.just("NOT"), rules=st.lists(children, min_size=1, max_size=1)),
        st.builds(LogicalRule, operator=st.sampled_from(["AND", "OR"]), rules=st.lists(children, min_size=1, max_size=3)),
    ),
    max_leaves=4,
)


def eval_model(rule, value):
    """Python model of the reference's pandas mask semantics:
    comparisons on null are False, except != which is True."""
    if isinstance(rule, LogicalRule):
        subs = [eval_model(r, value) for r in rule.rules]
        if rule.operator == "NOT":
            return not subs[0]
        if rule.operator == "AND":
            return all(subs)
        return any(subs)
    if value is None:
        return rule.operator == "!="
    ops = {
        "==": value == rule.value,
        "!=": value != rule.value,
        ">": value > rule.value,
        "<": value < rule.value,
        ">=": value >= rule.value,
        "<=": value <= rule.value,
    }
    return ops[rule.operator]


@pytest.fixture(scope="module")
def rule_df(spark):
    values = list(range(-100, 101)) + [None]
    return spark.createDataFrame([(v,) for v in values], "v int").cache(), values


@given(rule=rule_tree)
@settings(**_SETTINGS)
def test_rule_compiler_matches_pandas_model(rule_df, rule):
    df, values = rule_df
    out = df.filter(__import__("pyspark.sql.functions", fromlist=["coalesce", "lit"]).coalesce(
        compile_rule(rule), __import__("pyspark.sql.functions", fromlist=["lit"]).lit(False)
    ))
    got = sorted((r["v"] for r in out.collect()), key=lambda x: (x is None, x))
    want = sorted((v for v in values if eval_model(rule, v)), key=lambda x: (x is None, x))
    assert got == want


def model_str_to_bool(s):
    if s is None:
        return None
    t = s.strip().lower()
    if t in NULL_STRINGS:
        return None
    if t in TRUE_STRINGS:
        return True
    if t in FALSE_STRINGS:
        return False
    return None


def model_str_to_int(s):
    if s is None:
        return None
    t = s.strip().lower()
    if t in NULL_STRINGS:
        return None
    try:
        d = float(t)
    except ValueError:
        return None
    if math.isnan(d) or math.isinf(d) or d != math.floor(d):
        return None
    # int64 range guard (as doubles): out-of-range is unrepresentable in
    # LongType, so the engine yields NULL rather than saturating.
    if d < -(2**63) or d >= 2**63:
        return None
    return int(d)


str_values = st.one_of(
    st.none(),
    st.sampled_from(list(TRUE_STRINGS) + list(FALSE_STRINGS) + list(NULL_STRINGS)),
    st.text(alphabet="0123456789.-eXyz ", max_size=8),
    st.integers(-10**6, 10**6).map(str),
)


@given(values=st.lists(str_values, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_cast_ladders_match_reference_tables(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    op_bool = get_operator("type_conversion")(
        rules=[{"column_path": "v", "target": "boolean", "on_error": "null"}]
    )
    bool_ports = op_bool.apply({"in": df})
    got_bool = [r["v"] for r in bool_ports["out"].collect()]
    assert got_bool == [model_str_to_bool(v) for v in values]

    op_int = get_operator("type_conversion")(
        rules=[{"column_path": "v", "target": "integer", "on_error": "null"}]
    )
    int_ports = op_int.apply({"in": df})
    got_int = [r["v"] for r in int_ports["out"].collect()]
    assert got_int == [model_str_to_int(v) for v in values]

    # errors: exactly the real (non-null, non-marker) values the model
    # maps to None, per rule; both ports read in one action
    def real_failure(v, model):
        return v is not None and v.strip().lower() not in NULL_STRINGS and model(v) is None

    errors = bool_ports["errors"].withColumn("t", F.lit("boolean")).unionByName(
        int_ports["errors"].withColumn("t", F.lit("integer"))
    )
    got_errors = sorted((r["t"], r["v"]) for r in errors.collect())
    want_errors = sorted(
        [("boolean", v) for v in values if real_failure(v, model_str_to_bool)]
        + [("integer", v) for v in values if real_failure(v, model_str_to_int)]
    )
    assert got_errors == want_errors

    # on_error='raise' raises iff such a value exists
    op_raise = get_operator("type_conversion")(
        rules=[{"column_path": "v", "target": "integer", "on_error": "raise"}]
    )
    if any(real_failure(v, model_str_to_int) for v in values):
        with pytest.raises(CastError, match="not convertible"):
            op_raise.apply({"in": df})
    else:
        op_raise.apply({"in": df})


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 999),                      # id
            st.one_of(st.none(), st.integers(0, 4)),  # key a (nullable)
            st.one_of(st.none(), st.sampled_from("xy")),  # key b (nullable)
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],  # unique ids
    )
)
def test_exact_dedup_matches_python_model_with_nulls(spark, rows):
    """Differential property: exact_dedup's min-id survivor against a
    plain-Python groupby that treats NULL as a real key value — the
    semantics the eqNullSafe join must implement."""
    from etl_core_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(rows, "id long, a long, b string")
    got = sorted(r["id"] for r in exact_dedup(df, ["a", "b"], id_col="id").collect())

    survivors: dict = {}
    for rid, a, b in rows:
        k = (a, b)
        if k not in survivors or rid < survivors[k]:
            survivors[k] = rid
    assert got == sorted(survivors.values())


# ---------------------------------------------------------------------------
# round-7 text ops vs pure-Python references
# ---------------------------------------------------------------------------

_ascii_word = st.text(
    alphabet="abcdefghij", min_size=1, max_size=6
)
_pii_snippet = st.sampled_from([
    "jo.doe+x@corp.example.com",
    "1234-5678-9012-3456",
    "123-45-6789",
    "10.0.0.1",
    "+1 (415) 555-0100",
    "plain words only",
])
_pii_text = st.lists(
    st.one_of(_ascii_word, _pii_snippet), min_size=0, max_size=8
).map(" ".join)


@given(texts=st.lists(_pii_text, min_size=1, max_size=6))
@settings(**_SETTINGS)
def test_pii_redaction_matches_python_re(spark, texts):
    """Spark regexp_replace chain == Python re reference over the
    shared PII_PATTERNS constants (ASCII inputs; the patterns are
    written to the Java-regex ∩ RE2 ∩ Python-re subset)."""
    import re

    from etl_core_spark.functions.text import PII_PATTERNS
    from etl_core_spark.operators.text_analysis import pii_annotate

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, t string"
    )
    got = {r["id"]: r for r in pii_annotate(df, "t", redact=True).collect()}
    for i, t in enumerate(texts):
        red = t
        for kind, (pat, tok) in PII_PATTERNS.items():
            assert got[i][f"n_pii_{kind}"] == len(re.findall(pat, t)), (kind, t)
            red = re.sub(pat, tok, red)
        assert got[i]["t_redacted"] == red, t
        # redaction is idempotent: placeholders contain no redactable shapes
        for _kind, (pat, _tok) in PII_PATTERNS.items():
            assert not re.search(pat, got[i]["t_redacted"])


def _line_dedup_reference(texts, max_doc_frac):
    """Python model: drop lines (normalized lower/trim) whose document
    frequency exceeds frac * n_docs; rebuild preserving original bytes."""
    from collections import Counter

    docs = [[ln for ln in t.split("\n") if ln.strip()] for t in texts]
    dfreq = Counter()
    for lines in docs:
        for k in {ln.strip().lower() for ln in lines}:
            dfreq[k] += 1
    hot = {k for k, c in dfreq.items() if c > max_doc_frac * len(texts)}
    out = []
    for lines in docs:
        kept = [ln for ln in lines if ln.strip().lower() not in hot]
        out.append(("\n".join(kept), len(kept), len(lines) - len(kept)))
    return out


_line = st.text(alphabet="ab cd", min_size=0, max_size=10)
_doc = st.lists(_line, min_size=0, max_size=5).map("\n".join)


@given(texts=st.lists(_doc, min_size=1, max_size=6),
       frac=st.sampled_from([0.3, 0.5, 0.9]))
@settings(**_SETTINGS)
def test_line_dedup_matches_python_reference(spark, texts, frac):
    from etl_core_spark.operators.text_analysis import line_dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    want = _line_dedup_reference(texts, frac)
    for kw in ({"max_doc_frac": frac},
               {"max_doc_freq": int(frac * len(texts))}):
        got = {
            r["doc_id"]: (r["text_dedup"], r["n_lines_kept"], r["n_lines_dropped"])
            for r in line_dedup(df, delimiter="\\n", **kw).collect()
        }
        for i in range(len(texts)):
            assert got[i] == want[i], (kw, texts[i])


def _strip_spans_reference(texts, n):
    """Python model of n-gram-tiling substring dedup."""
    from collections import Counter

    toks = [t.split() for t in texts]
    grams = Counter()
    for tk in toks:
        for s in range(len(tk) - n + 1):
            grams[" ".join(tk[s:s + n])] += 1
    out = []
    for tk in toks:
        covered = set()
        for s in range(len(tk) - n + 1):
            if grams[" ".join(tk[s:s + n])] >= 2:
                covered.update(range(s, s + n))
        kept = [w for i, w in enumerate(tk) if i not in covered]
        out.append((" ".join(kept), len(kept), len(tk) - len(kept)))
    return out


_span_doc = st.lists(
    st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12
).map(" ".join)


@given(texts=st.lists(_span_doc, min_size=1, max_size=5),
       n=st.sampled_from([2, 3]))
@settings(**_SETTINGS)
def test_strip_duplicate_spans_matches_python_reference(spark, texts, n):
    from etl_core_spark.operators.text_analysis import strip_duplicate_spans

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["text_dedup"], r["n_tokens_kept"], r["n_tokens_dropped"])
        for r in strip_duplicate_spans(df, span_tokens=n).collect()
    }
    want = _strip_spans_reference(texts, n)
    for i in range(len(texts)):
        assert got[i] == want[i], (n, texts[i])


@given(
    keys=st.lists(
        st.one_of(st.integers(-10_000, 10_000), st.none()),
        min_size=1, max_size=40, unique=True,
    ),
    salt=st.sampled_from(["", "e1", "x"]),
    n_buckets=st.sampled_from([1, 3, 8]),
)
@settings(**_SETTINGS)
def test_shuffle_rows_matches_python_permutation_model(spark, keys, salt, n_buckets):
    """shuffle_rows vs a pure-Python model of the same permutation:
    md5-derived hash (NULL sentinel included), bucket = hash % n,
    global order (bucket, hash, key)."""
    import hashlib

    from etl_core_spark.operators.sampling import shuffle_rows

    def py_hash(k):
        rendered = "\x00__NULL_KEY__" if k is None else str(k)
        return int(hashlib.md5((salt + rendered).encode()).hexdigest()[:8], 16)

    order = sorted(
        keys,
        key=lambda k: (py_hash(k) % n_buckets, py_hash(k),
                       (k is None, k if k is not None else 0)),
    )
    # NULL sorts: Spark window orderBy puts NULL FIRST (asc default)
    # within equal (bucket, hash) prefixes — but hash is unique per
    # rendered key here (md5 collisions impossible at this scale), so
    # the key tiebreak never fires and the model is exact
    want = {k: i for i, k in enumerate(order)}
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    got = {
        r["doc_id"]: r["shuffle_pos"]
        for r in shuffle_rows(df, "doc_id", salt, n_buckets).collect()
    }
    assert got == want


@given(
    left_rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000)),
        min_size=0, max_size=40,
    ),
    right_keys=st.lists(st.integers(0, 7), min_size=0, max_size=8, unique=True),
    how=st.sampled_from(["inner", "left"]),
    factor=st.sampled_from([1, 3, 5]),
)
@settings(**_SETTINGS)
def test_salted_join_equals_plain_join_property(
    spark, left_rows, right_keys, how, factor
):
    from etl_core_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        left_rows or [(None, None)], "k long, v long"
    )
    right = spark.createDataFrame(
        [(k, f"d{k}") for k in right_keys] or [(None, None)],
        "k long, name string",
    )
    plain = left.join(right, on="k", how=how)
    salted = salted_join(left, right, ["k"], how, factor)
    assert sorted(
        tuple(r) for r in salted.select(*plain.columns).collect()
    ) == sorted(tuple(r) for r in plain.collect())


def _spark_round(x: float, nd: int) -> float:
    """Spark's round = Java BigDecimal.valueOf(x).setScale(nd,
    HALF_UP); BigDecimal.valueOf goes through Double.toString — the
    SHORTEST decimal repr, which Python's repr() also produces."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1).scaleb(-nd), rounding=decimal.ROUND_HALF_UP
        )
    )


def _py_semdedup(rows, threshold, num_centroids):
    """Pure-Python reference of operators/similarity.semdedup
    (keep=min_id, expr assignment) replicating the EXACT float op
    order: strict left folds for norm/dot, unit = x/norm, best
    centroid by (sim desc, cid asc) on raw doubles, pair cosine
    rounded 6dp Spark-style."""
    import math

    def norm(v):
        acc = 0.0
        for x in v:
            acc = acc + float(x) * float(x)
        return math.sqrt(acc)

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def unit(v):
        n = norm(v)
        if n > 0:
            return [float(x) / n for x in v]
        return [float(x) for x in v]

    seedable = sorted(
        (i, v) for i, v in rows if v is not None and norm(v) > 0
    )[:num_centroids]
    cents = [(i, unit(v)) for i, v in seedable]
    units = {
        i: unit(v) for i, v in rows if v is not None and norm(v) > 0
    }
    assigned = {}
    for i, u in units.items():
        best = None
        for cid, cu in cents:
            s = dot(u, cu)
            if best is None or s > best[0] or (s == best[0] and cid < best[1]):
                best = (s, cid)
        if best is not None:
            assigned[i] = best[1]
    dropped = set()
    ids = sorted(assigned)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if assigned[a] != assigned[b]:
                continue
            if _spark_round(dot(units[a], units[b]), 6) >= threshold:
                dropped.add(b)
    return {i for i, _ in rows} - dropped


@given(
    vecs=st.lists(
        st.one_of(
            st.none(),
            st.lists(st.integers(-3, 3), min_size=4, max_size=4),
        ),
        min_size=1, max_size=10,
    ),
    threshold=st.sampled_from([0.3, 0.8, 0.95]),
    k=st.sampled_from([1, 2, 3]),
)
@settings(**_SETTINGS)
def test_semdedup_matches_python_reference(spark, vecs, threshold, k):
    from etl_core_spark.operators.similarity import semdedup

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v] if v is not None else None)
         for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]
        for r in semdedup(
            df, threshold, num_centroids=k, assign_method="expr"
        ).collect()
    }
    want = _py_semdedup(
        [(i, [float(x) for x in v] if v is not None else None)
         for i, v in rows],
        threshold, k,
    )
    assert got == want


def _py_bm25(rows, terms, k1=1.2, b=0.75):
    """Pure-Python reference of operators/text_analysis.bm25_score
    replicating the EXACT float op order: idf * ((tf*(k1+1)) / (tf +
    k1*((1-b) + ((b*dl)/avgdl)))), floor quantization at 6dp. avgdl
    uses Spark's sum/count over doc order (single partition in the
    differential)."""
    import math

    def toks(t):
        if t is None:
            return None
        s = t.strip().lower()
        return [] if not s else __import__("re").split(r"\s+", s)

    dls = []
    per_doc = {}
    for i, t in rows:
        tk = toks(t)
        dl = 0 if tk is None else len(tk)
        dls.append(float(dl))
        per_doc[i] = (dl, tk or [])
    n = len(rows)
    acc = 0.0
    for x in dls:
        acc = acc + x
    avgdl = acc / n
    tset = sorted(set(terms))
    tf = {}
    for i, (dl, tk) in per_doc.items():
        for t in tk:
            if t in tset:
                tf[(i, t)] = tf.get((i, t), 0) + 1
    df = {}
    for (i, t) in tf:
        df[t] = df.get(t, 0) + 1
    out = {}
    for i, (dl, _) in per_doc.items():
        s = 0.0
        m = 0
        for t in tset:
            c = tf.get((i, t))
            if not c:
                continue
            m += 1
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s = s + idf * (
                (c * (k1 + 1)) / (c + k1 * ((1 - b) + ((b * dl) / avgdl)))
            )
        out[i] = (m, math.floor(s * 1e6) / 1e6)
    return out


@given(
    docs=st.lists(
        st.one_of(
            st.none(),
            st.text(alphabet="ab cd", min_size=0, max_size=24),
        ),
        min_size=1,
        max_size=12,
    ),
    terms=st.lists(
        st.sampled_from(["a", "ab", "b", "cd", "zz"]),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
@settings(max_examples=25, deadline=None)
def test_bm25_matches_pure_python_reference(spark, docs, terms):
    from etl_core_spark.operators.text_analysis import bm25_score

    rows = list(enumerate(docs))
    df = spark.createDataFrame(
        rows, "doc_id long, text string"
    ).coalesce(1)  # pin the avgdl fold order for bit-equality
    got = {
        r["doc_id"]: (r["n_matched"], r["score"])
        for r in bm25_score(df, terms).collect()
    }
    assert got == _py_bm25(rows, terms)


# ------------------------------------------------- png codec round-trip

@given(
    w=st.integers(1, 23),
    h=st.integers(1, 17),
    ctype=st.sampled_from([0, 2, 4, 6]),
    fmode=st.sampled_from(["none", "cycle"]),
    seed=st.integers(0, 2**32 - 1),
)
@settings(**_SETTINGS)
def test_png_codec_round_trips_any_size_and_color_type(
    w, h, ctype, fmode, seed
):
    """decode(encode(px)) == px for every supported color type and
    both filter modes, on arbitrary dimensions and pseudo-random
    pixel data (pure Python — no Spark session needed)."""
    from etl_core_spark.operators.png_codec import decode_png, encode_png

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    n = w * h * ch
    # xorshift-ish deterministic bytes from the seed
    px = bytearray(n)
    s = seed or 1
    for i in range(n):
        s ^= (s << 13) & 0xFFFFFFFF
        s ^= s >> 17
        s ^= (s << 5) & 0xFFFFFFFF
        px[i] = s & 0xFF
    px = bytes(px)
    data = encode_png(w, h, px, color_type=ctype, filter_mode=fmode)
    assert decode_png(data) == (w, h, ch, px)


# ------------------------------------------------- session-2 wave invariants


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        min_size=1,
        max_size=40,
    ),
    cap=st.integers(2, 12),
)
def test_link_predict_invariants_vs_python_model(spark, edges, cap):
    """Differential property on random graphs: RA scores and CN
    counts vs a plain-Python adjacency model, including the
    max_degree exclusion and the adjacency anti-join."""
    import itertools
    import math

    from etl_core_spark.operators.graph import link_predict

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["src"], r["dst"]): (r["common_neighbors"], r["score"])
        for r in link_predict(
            df, method="resource_allocation", max_degree=cap
        ).collect()
    }
    adj: dict[int, set] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    ref = {}
    for a, b in itertools.combinations(sorted(adj), 2):
        if b in adj[a]:
            continue
        common = {z for z in adj[a] & adj[b] if len(adj[z]) <= cap}
        if common:
            sw = sum(10**12 // len(adj[z]) for z in common)
            ref[(a, b)] = (len(common), math.floor(sw / 1e12 * 1e9) / 1e9)
    assert got == ref
    # every common neighbor has degree >= 2 (it touches both ends),
    # so RA score <= cn/2 always
    for cn, score in got.values():
        assert score <= cn / 2 + 1e-12


@settings(**_SETTINGS)
@given(
    ys=st.lists(
        st.floats(0, 100, allow_nan=False, width=32).map(
            lambda v: round(v, 2)
        ),
        min_size=2,
        max_size=40,
    )
)
def test_acf_bounded_and_lag_symmetric_base(spark, ys):
    """|r_k| <= 1 for every lag (Cauchy-Schwarz on the full-series
    denominator) and n_pairs bookkeeping holds on random series."""
    from etl_core_spark.operators.timeseries import acf

    df = spark.createDataFrame(
        [("k", t, v) for t, v in enumerate(ys)], "k string, t int, v double"
    )
    rows = acf(df, ["k"], ["t"], "v", max_lag=3).collect()
    n = len(ys)
    for r in rows:
        assert r["n_pairs"] == n - r["lag"]
        if r["acf"] is not None:
            assert -1.0 - 1e-9 <= r["acf"] <= 1.0


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 7)),
        min_size=1,
        max_size=60,
    ),
    floor=st.integers(1, 4),
)
def test_assoc_rules_metric_identities(spark, rows, floor):
    """Exact-count identities on random baskets: pair_count <=
    min(count_a, count_b), support <= confidence (n_baskets >=
    marginal counts), and the floored metrics reproduce from the
    emitted integer counts."""
    import math

    from etl_core_spark.operators.assoc import assoc_rules

    df = spark.createDataFrame(rows, "b long, i long")
    out = assoc_rules(df, "b", "i", min_support_count=floor).collect()
    n = len({b for b, _ in rows})
    fq = lambda x: math.floor(x * 1e9) / 1e9  # noqa: E731
    for r in out:
        assert r["pair_count"] <= min(r["count_a"], r["count_b"])
        assert r["pair_count"] >= floor
        assert r["support"] == fq(r["pair_count"] / n)
        assert r["confidence_ab"] == fq(r["pair_count"] / r["count_a"])
        assert r["confidence_ba"] == fq(r["pair_count"] / r["count_b"])
        assert r["lift"] == fq(
            r["pair_count"] * n / (r["count_a"] * r["count_b"])
        )


@settings(**_SETTINGS)
@given(
    n=st.integers(2, 60),
    k=st.integers(1, 3),
    b=st.integers(4, 16),
    salt=st.sampled_from(["", "s1"]),
)
def test_negative_sample_structural_invariants(spark, n, k, b, salt):
    """No self-negatives, neg_rank coverage, and every negative is a
    real corpus id — for random corpus sizes, k, buckets and salts."""
    from etl_core_spark.operators.sampling import negative_sample

    if k >= b:
        return
    df = spark.range(n).selectExpr("id AS doc_id")
    rows = negative_sample(df, "doc_id", k=k, buckets=b, salt=salt).collect()
    ids = set(range(n))
    for r in rows:
        assert r["anchor"] != r["negative"]
        assert r["negative"] in ids and r["anchor"] in ids
        assert 1 <= r["neg_rank"] <= k
    # an (anchor, rank) pair resolves to at most one negative
    keys = [(r["anchor"], r["neg_rank"]) for r in rows]
    assert len(keys) == len(set(keys))
