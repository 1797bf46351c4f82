"""Property-based tests (hypothesis), mirroring the reference's use of
hypothesis for invariants (reference test_create.py:11-35)."""

import json
import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from biocypher_spark.mapping import SchemaMapping
from biocypher_spark.naming import (
    parse_label,
    pascalcase_to_sentencecase,
    sentence_to_pascal,
    sentencecase_to_snakecase,
)

# min word length 2: the reference's lowercase regex ([a-zA-Z]*[a-z][a-zA-Z]*)
# leaves single uppercase letters untouched, so 1-letter words don't
# round-trip in the reference either (/root/reference/biocypher/_misc.py:141-151)
words = st.lists(
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=2, max_size=8), min_size=1, max_size=4
)


@given(words)
def test_sentence_pascal_roundtrip(ws):
    sentence = " ".join(ws)
    pascal = sentence_to_pascal(sentence)
    assert " " not in pascal
    assert pascalcase_to_sentencecase(pascal) == sentence


@given(words)
def test_snakecase_stable(ws):
    sentence = " ".join(ws)
    snake = sentencecase_to_snakecase(sentence)
    assert snake == "_".join(ws)


@given(st.text(max_size=30))
@example("0")  # all-numeric label: reference fallthrough keeps it unchanged
@example("1 .")
def test_parse_label_output_compliant(s):
    out = parse_label(s)
    if out:
        assert re.fullmatch(r"[a-zA-Z0-9_$ .]*", out)
        assert out == out.strip()
        # The leading character must be alphabetic or '$' UNLESS no such
        # character survives the charset filter at all — the reference's
        # rescan loop never fires in that case and the compliant chars pass
        # through unchanged ('0' -> '0'), so distinct all-numeric labels
        # don't merge (reference _batch_writer.py:1271-1276 fallthrough).
        if any(c.isalpha() or c == "$" for c in out):
            assert out[0].isalpha() or out[0] == "$"


@given(st.text(max_size=30))
def test_parse_label_idempotent(s):
    once = parse_label(s)
    assert parse_label(once) == once


@given(
    st.dictionaries(
        st.text(alphabet="abcdefghij ", min_size=1, max_size=12).filter(str.strip),
        st.fixed_dictionaries({"represented_as": st.sampled_from(["node", "edge"])}),
        max_size=5,
    )
)
@settings(max_examples=50)
def test_extend_schema_idempotent(schema):
    """Compiling the compiled schema again must not change it."""
    first = SchemaMapping(schema={k: dict(v) for k, v in schema.items()}).extended_schema
    second = SchemaMapping(schema={k: dict(v) for k, v in first.items()}).extended_schema
    assert set(first) == set(second)


def test_json_scalar_encoding_roundtrip(spark):
    """The engine's JSON string codec (``json_encode_str`` /
    ``json_decode_str``, plain-value fast path plus Jackson) gives what the
    plain Jackson expressions give, and its output is JSON that decodes to
    the input: for every Unicode scalar value alone and quoted, and for
    quotes, escapes, NULL, non-string JSON and malformed text."""
    from pyspark.sql import functions as F

    from biocypher_spark.model import json_decode_str, json_encode_str

    def jackson_encode(c):
        arr = F.to_json(F.array(c))
        return F.substring(arr, F.lit(2), F.length(arr) - F.lit(2))

    def jackson_decode_array(c):
        return F.from_json(F.concat(F.lit("["), c, F.lit("]")), "array<string>")

    # UTF-32 text "a<code point>" minus the "a": U+FEFF first would be a BOM
    utf32 = F.concat(F.lit("00000061"), F.lpad(F.hex("id"), 8, "0"))
    code_points = (
        spark.range(0x110000)
        .filter(~F.col("id").between(0xD800, 0xDFFF))
        .select(F.substring(F.decode(F.unhex(utf32), "UTF-32"), 2, 1).alias("s"))
    )
    others = [
        None, "", '"', "\\", '\\"', '""', '"a"', '"\\"', '"\\u0041"', '"\\u001F"', '"a\\nb"', '"a\nb"',
        '"\x7f\u2028\U0001f600"', '"a', 'a"', '"a"b"', '"a","b"', '"abc"\n', '"abc"\u2028', '"abc" ', ' "abc"',
        "true", "3", "null", "[1,2]", '["a"]', '{"a":1}', "]", "1]", "plain text", " ", "  ", "\t",
    ]
    inputs = code_points.unionByName(spark.createDataFrame([(x,) for x in others], "s string"))
    s = F.col("s")
    quoted = F.concat(F.lit('"'), s, F.lit('"'))
    encoded = json_encode_str(s)

    def decodes_as_jackson(c):
        # text Jackson reads as an empty array (blank, "]") decodes to NULL
        return json_decode_str(c).eqNullSafe(F.get(jackson_decode_array(c), 0))

    same = (
        encoded.eqNullSafe(jackson_encode(s))
        & decodes_as_jackson(s)
        & decodes_as_jackson(quoted)
        & json_decode_str(encoded).eqNullSafe(s)
    )
    got = inputs.select(s, encoded.alias("encoded"), same.alias("same")).toArrow().to_pydict()
    assert len(got["s"]) == 1_112_064 + len(others)
    assert [x for x, ok in zip(got["s"], got["same"]) if not ok] == []
    blank = spark.createDataFrame([(x,) for x in ("", " ", "]")], "s string").select(json_decode_str(s))
    assert [r[0] for r in blank.collect()] == [None, None, None]
    # Jackson writes \u001F where Python writes \u001f: compare values, not text
    assert [x for x, enc in zip(got["s"], got["encoded"]) if json.loads(enc) != x] == []


# -- PPJoin prefix-filter completeness (pure-python mirror, linking.py) -------


@given(
    st.lists(
        st.text(alphabet="abcdefgh", min_size=2, max_size=8),
        min_size=2,
        max_size=30,
        unique=True,
    )
)
@settings(max_examples=200, deadline=None)
def test_prefix_filter_completeness(keys):
    """Prefix-filtering theorem: any pair with bigram-Jaccard >= t must share
    at least one gram within each side's (n - ceil(t*n) + 1)-prefix under the
    global frequency ordering — so every true pair is a candidate."""
    from biocypher_spark.linking import _bigrams_py, _prefix_candidates_py

    t = 0.35
    cand = _prefix_candidates_py(sorted(keys), t)
    for i, a in enumerate(sorted(keys)):
        for b in sorted(keys)[i + 1 :]:
            ga, gb = _bigrams_py(a), _bigrams_py(b)
            union = len(ga | gb)
            if union == 0:
                continue
            if len(ga & gb) / union >= t:
                assert (a, b) in cand, f"true pair ({a!r}, {b!r}) missed by prefix filter"


@given(
    st.lists(
        st.text(alphabet="abcdef0123", min_size=1, max_size=10),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
@settings(max_examples=200, deadline=None)
def test_canonicalize_local_is_valid_partition(keys):
    """canonicalize_local always returns a map whose values are cluster
    minima and which is idempotent (canonical of canonical = canonical)."""
    from biocypher_spark.linking import canonicalize_local

    comp = canonicalize_local(keys)
    for k in keys:
        c = comp.get(k, k)
        assert c <= k  # representative is the lexicographic min
        assert comp.get(c, c) == c  # idempotent


@given(st.integers(min_value=1, max_value=64))
def test_minhash_affine_params_bounds(seeds):
    """The universal-hash constants must keep (a*h + b) inside a signed
    64-bit integer for any 32-bit element hash h, with a odd (bijective mod
    2^k) and below 2^31."""
    from biocypher_spark.textops import _MINHASH_PRIME, minhash_affine_params

    params = minhash_affine_params(seeds)
    assert len(params) == len(set(params)) == seeds  # distinct hash functions
    hmax = (1 << 32) - 1
    for a, b in params:
        assert 0 < a < (1 << 31) and a % 2 == 1
        assert 0 <= b < _MINHASH_PRIME
        assert a * hmax + b < (1 << 63)  # no bigint overflow in either engine
