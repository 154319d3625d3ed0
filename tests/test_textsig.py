"""The round-6 map-only MinHash kernel (operators/textsig.py) must be
bit-identical to the SQL signature body it replaced — including the edge
cases the parquet fixtures never produce: empty docs, consecutive
separators, single-word docs, non-ASCII (incl. astral) codepoints, and
docs that drop out entirely (< 2 non-empty words)."""

from __future__ import annotations

import pytest

from pyofs_spark.operators.textsig import minhash_sigs_arrow
from pyofs_spark.plans.queries_text import (
    _MH_PRIME,
    _MINHASH_BODY,
    _PERMS,
    _POS_WORDS_SPARK,
)

ADVERSARIAL = [
    "",
    " ",
    "   ",
    "one",
    "one two",
    "one  two   three",
    " leading and trailing ",
    "a b c d e f g h i j k l m n o p",
    "dup dup dup dup",
    "€uro snowman☃ mixed",
    "😀astral 😀astral x",
    "éé àcçents ünïcode",
    "a😀b second-char-astral x😀",
    "€2 ß3 astral😀tail",
    "a-b.c,d;e f|g",
    "tab\tis one word",
]


@pytest.fixture(scope="module")
def sig_frames(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ADVERSARIAL)], "doc_id long, text string"
    )
    docs.createOrReplaceTempView("documents")
    sql_form = spark.sql(
        _MINHASH_BODY.replace("{POSWORDS}", _POS_WORDS_SPARK)
        + "    SELECT * FROM sigs"
    )
    kernel = minhash_sigs_arrow(docs, _PERMS, _MH_PRIME)
    return sql_form, kernel


def test_kernel_matches_sql_body(sig_frames):
    sql_form, kernel = sig_frames
    a = {tuple(r) for r in sql_form.collect()}
    b = {tuple(r) for r in kernel.collect()}
    assert a == b
    # docs with < 2 non-empty words must be absent from BOTH
    ids = {r[0] for r in a}
    assert ids == {i for i, t in enumerate(ADVERSARIAL) if len(t.split()) >= 2}


def test_kernel_is_map_only(sig_frames):
    _, kernel = sig_frames
    plan = kernel._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_shingle_counts_kernel_matches_sql_form(spark):
    """shingle_counts_arrow must match the JVM array-SQL per_doc form
    (which itself is property-fuzzed against DuckDB) on the adversarial
    corpus — including empty tokens inside shingles, <5-word drops, and
    unicode."""
    from pyofs_spark.operators.textsig import shingle_counts_arrow
    from pyofs_spark.plans.queries_text import _CROSSDOC_PERDOC_SPARK

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ADVERSARIAL)]
        + [(100, "a b c d e"), (101, "a b c d e f"), (102, "x  y z  w q")],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("documents")
    sql_form = {tuple(r) for r in spark.sql(_CROSSDOC_PERDOC_SPARK).collect()}
    kernel = {tuple(r) for r in shingle_counts_arrow(docs, n=5).collect()}
    assert kernel == sql_form and len(kernel) > 0


def test_large_arrow_types_read_int64_offsets():
    """large_string / large_list carry int64 offsets; the kernel must read
    them as such (an int32 read misplaces every value) and refuse any
    other array type."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyofs_spark.operators.textsig import _first_codepoints, _value_offsets

    words = pa.array(ADVERSARIAL, pa.string())
    large = words.cast(pa.large_string())
    assert large.type == pa.large_string()
    assert list(_first_codepoints(large)) == list(_first_codepoints(words))
    # a sliced array: offsets start at the slice, not at the buffer
    assert list(_first_codepoints(large.slice(9, 4))) == list(_first_codepoints(words.slice(9, 4)))
    lists = pc.split_pattern(words, " ")
    large_lists = lists.cast(pa.large_list(pa.string()))
    assert list(_value_offsets(large_lists)) == list(_value_offsets(lists))
    with pytest.raises(TypeError):
        _value_offsets(pa.array([1, 2], pa.int64()))
