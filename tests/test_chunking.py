"""Chunk-merge property tests (SURVEY.md §5.2 — the H6 contract).

Properties from the reference algorithm (text_spliter.py:80-166):
  P1 every chunk ≤ chunk_size unless it is a single oversize sentence;
  P2 the overlap prefix of chunk n+1 is a suffix of chunk n, bounded by
     chunk_overlap (when overlap applies);
  P3 concatenation covers all sentences in order (every sentence appears,
     order preserved, modulo the duplicated overlap sentences);
  P4 deterministic.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from server2_vector_search_server_spark.operators.chunking import (
    chunk_documents,
    merge_sentences,
    split_sentences,
    split_text,
)

SENTENCES = st.lists(
    st.text(alphabet="abcdefg ", min_size=1, max_size=60).map(
        lambda s: s.strip() or "x"),
    min_size=0, max_size=30)


def test_split_sentences_modes():
    text = "One sentence. Two! Three? And\nmore lines"
    assert split_sentences(text, "punct") == [
        "One sentence.", "Two!", "Three?", "And\nmore lines"]
    assert split_sentences(text, "newline") == [
        "One sentence. Two! Three? And", "more lines"]
    assert split_sentences("a b c d e", "words:2") == ["a b", "c d", "e"]
    assert split_sentences("", "punct") == []
    assert split_sentences("   ", "newline") == []


def test_merge_basic_packing():
    # "aa bb cc" fits in 8; adding dd would make 11 > 8 → new chunk
    out = merge_sentences(["aa", "bb", "cc", "dd"], chunk_size=8,
                          chunk_overlap=0)
    assert out == ["aa bb cc", "dd"]


def test_merge_overlap_carries_trailing_sentences():
    out = merge_sentences(["aaaa", "bbbb", "cccc", "dddd"], chunk_size=9,
                          chunk_overlap=4)
    # chunk1 = "aaaa bbbb"; overlap scan backwards: "bbbb" (4 ≤ 4) then
    # "aaaa" would need 4+1+4=9 > 4 → overlap = ["bbbb"]
    assert out[0] == "aaaa bbbb"
    assert out[1].startswith("bbbb ")


def test_oversize_sentence_becomes_own_chunk():
    out = merge_sentences(["aa", "x" * 50, "bb"], chunk_size=10,
                          chunk_overlap=4)
    assert "x" * 50 in out
    # previous partial chunk flushed first, no overlap carried over oversize
    assert out.index("aa") < out.index("x" * 50)


def test_sentence_not_fitting_with_overlap_starts_fresh():
    # overlap fills most of the chunk; next sentence alone must still be ≤ size
    out = merge_sentences(["aaaaaa", "bbbbbb", "cccccc"], chunk_size=13,
                          chunk_overlap=13)
    # chunk "aaaaaa bbbbbb" closes; overlap=["aaaaaa","bbbbbb"]? backward scan:
    # "bbbbbb"(6≤13) then "aaaaaa" → 6+1+6=13 ≤ 13 → overlap both (13 chars);
    # adding "cccccc" → 13+1+6=20 > 13 → flush overlap chunk, start fresh
    assert out == ["aaaaaa bbbbbb", "aaaaaa bbbbbb", "cccccc"]


@settings(max_examples=200, deadline=None)
@given(SENTENCES, st.integers(5, 80), st.integers(0, 30))
def test_properties(sentences, chunk_size, chunk_overlap):
    chunk_overlap = min(chunk_overlap, chunk_size)
    out = merge_sentences(sentences, chunk_size, chunk_overlap)

    # P1: length bound, except single oversize sentences
    for c in out:
        if len(c) > chunk_size:
            assert c in [s.strip() for s in sentences], \
                f"oversize chunk {c!r} is not a single sentence"

    # P3: every sentence appears in order (allowing duplicates from overlap)
    text = " ".join(out)
    pos = 0
    for s in sentences:
        s = s.strip()
        found = text.find(s, pos)
        if found < 0:
            found = text.find(s)   # overlap replay may rewind
        assert found >= 0, f"sentence {s!r} missing from chunks"
        pos = max(pos, found)

    # P4: deterministic
    assert out == merge_sentences(sentences, chunk_size, chunk_overlap)


def test_chunk_documents_distributed(spark):
    df = spark.createDataFrame(
        [(1, "one two three four five six seven eight"),
         (2, "a. b. c. d."),
         (3, "")],
        "doc_id long, text string")
    out = chunk_documents(df, chunk_size=15, chunk_overlap=5,
                          mode="words:2").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_index"], r["content"]))
    # doc 3 empty → no chunks; chunk_index dense from 0; content parity with
    # the pure function
    assert 3 not in by_doc
    for doc_id, text in [(1, "one two three four five six seven eight"),
                         (2, "a. b. c. d.")]:
        got = [c for _, c in sorted(by_doc[doc_id])]
        assert got == split_text(text, 15, 5, mode="words:2")
        assert [i for i, _ in sorted(by_doc[doc_id])] == list(range(len(got)))


def test_chunking_plan_has_no_shuffle(spark, tables):
    """Scale check: per-document chunking must be a narrow transformation."""
    plan = chunk_documents(tables["documents"], mode="words:10") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_kss_mode_gated_and_punct_handles_korean():
    """H5: mode='kss' is the reference's primary splitter, import-gated like
    the embedding model; the punct analog must still split Korean sentence
    enders deterministically (golden fixture)."""
    import pytest

    from server2_vector_search_server_spark.operators.chunking import (
        split_sentences,
    )

    korean = "서울은 대한민국의 수도입니다. 부산은 항구 도시입니다! 맞습니까?"
    assert split_sentences(korean, mode="punct") == [
        "서울은 대한민국의 수도입니다.",
        "부산은 항구 도시입니다!",
        "맞습니까?",
    ]
    try:
        import kss  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="kss is not installed"):
            split_sentences(korean, mode="kss")
    else:
        got = split_sentences(korean, mode="kss")
        assert got and all(isinstance(s, str) and s for s in got)


def test_chunking_stats_recursive_cte_oracle_branch_coverage():
    """The recursive-CTE twin of the greedy merge must agree with the
    Python reference on corpora that exercise EVERY branch: append-fits,
    close+overlap-reseed, close+pure-overlap-flush (a fat sentence that
    doesn't fit beside the overlap), and oversize flush+solo-emit (a
    single >chunk_size sentence). The fixture corpus alone doesn't hit
    the last two."""
    import duckdb

    from server2_vector_search_server_spark.operators.chunking import (
        split_text,
    )
    from server2_vector_search_server_spark.plans.text_queries import (
        _sql_chunking_stats,
    )

    docs = [
        # plain multi-chunk with overlap reseed
        (1, " ".join(f"w{i:03d}" for i in range(100))),
        # oversize sentence: one 10-word group of 13-char words = 139 chars
        (2, " ".join("x" * 13 for _ in range(10))
            + " " + " ".join(f"t{i}" for i in range(30))),
        # pure-overlap flush: short words then a fat-but-not-oversize
        # sentence (10 words x 11 chars = 119 <= 120) that can't sit
        # beside any overlap
        (3, " ".join(f"a{i}" for i in range(40))
            + " " + " ".join("y" * 11 for _ in range(10))
            + " " + " ".join(f"b{i}" for i in range(20))),
        # shorter than one sentence group
        (4, "one two three"),
        # empty-ish
        (5, "   "),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    got = {r[0]: (r[1], r[2])
           for r in con.execute(_sql_chunking_stats()).fetchall()}
    want = {}
    for doc_id, text in docs:
        chunks = split_text(text, 120, 30, mode="words:10")
        if chunks:
            want[doc_id] = (len(chunks), max(len(c) for c in chunks))
    assert got == want
    assert 5 not in want                      # whitespace doc -> no chunks
    # sanity: the crafted docs really exercise the intended branches
    assert any(len(c) > 120 for c in split_text(docs[1][1], 120, 30,
                                                mode="words:10"))


# -- the SQL-text chunker against the pure spec --------------------------------
PY_WHITESPACE = [c for c in map(chr, range(0x110000)) if c.isspace()]


def _parity_texts() -> list:
    """Texts that hit every edge the SQL chunker could get wrong, plus a
    seeded fuzz of words, sentence enders and whitespace."""
    import random

    ws = "".join(PY_WHITESPACE)
    texts = [
        None, "", "   ", ws, ws + "a" + ws,
        # every Python whitespace character, as a separator, after a
        # sentence ender, and at both ends
        "".join(f"w{i}{c}" for i, c in enumerate(PY_WHITESPACE)),
        "".join(f"s{i}.{c}" for i, c in enumerate(PY_WHITESPACE)),
        ws + "Lead. Mid!" + ws + "Tail?" + ws,
        "line one\nline two\n\n\x85line three line four\n",
        # emoji and other astral code points: lengths count code points
        "😀 😀😀. 𝔘𝔫𝔦 𝔠𝔬𝔡𝔢! 👍🏽👍🏽 ok. " * 6,
        "서울은 대한민국의 수도입니다. 부산은 항구 도시입니다! 맞습니까? 네。好！真？",
        # an oversize sentence between short ones
        "short. " + "x" * 600 + ". tail one. tail two.",
        # the overlap-does-not-fit restart (see the branch check below)
        "aaaaaa bbbbbb cccccc",
        "aaaaaa. bbbbbb. cccccc. dddddd.",
        # a long document: the merge folds it in many blocks, and chunks
        # and overlaps straddle the block ends
        " ".join(f"Sentence {i} is {'long ' * (i % 7)}here." if i % 5
                 else f"Line {i}\n" for i in range(600)),
    ]
    rnd = random.Random(11)
    alphabet = list("abcdefgh.!?。！？") + PY_WHITESPACE + ["😀", "𝔘", "é"]
    for _ in range(300):
        n = rnd.choice([3, 40, 160, 700])
        texts.append("".join(
            rnd.choice(alphabet) if rnd.random() < 0.35
            else rnd.choice("abcdefgh") for _ in range(n)))
    return texts


PARITY_PAIRS = [(25, 10), (13, 13), (8, 0), (120, 30), (500, 100)]


@pytest.mark.parametrize("mode", ["punct", "newline"])
def test_sql_chunker_matches_split_text(spark, mode):
    """chunks_sql gives split_text's chunks string for string, in order."""
    from server2_vector_search_server_spark.operators.chunking import (
        chunks_sql,
    )

    texts = _parity_texts()
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    got = df.select("id", *[
        F.expr(chunks_sql("text", size, overlap, mode)).alias(f"c{j}")
        for j, (size, overlap) in enumerate(PARITY_PAIRS)]).collect()
    assert len(got) == len(texts)
    for row in got:
        for j, (size, overlap) in enumerate(PARITY_PAIRS):
            want = split_text(texts[row["id"]], size, overlap, mode)
            assert list(row[f"c{j}"] or []) == want, (
                mode, size, overlap, texts[row["id"]])
    # the fixture reaches the restart branch: the pure overlap is flushed
    # as its own chunk before the sentence that does not fit beside it
    assert split_text("aaaaaa. bbbbbb. cccccc. dddddd.", 13, 13) == [
        "aaaaaa.", "aaaaaa.", "bbbbbb.", "bbbbbb.", "cccccc.", "cccccc.",
        "dddddd."]


def test_sql_whitespace_class_is_python_isspace(spark):
    """The regex class the SQL chunker splits on matches exactly the
    characters str.isspace accepts, over the whole BMP and a sample of
    astral code points."""
    from server2_vector_search_server_spark.operators.chunking import (
        _WHITESPACE,
        _regex_class,
    )

    assert sorted(_WHITESPACE) == PY_WHITESPACE
    probe = "".join(chr(c) for c in range(1, 0x10000)
                    if not 0xD800 <= c < 0xE000) + "😀𝔘🏽\U0010FFFD"
    df = spark.createDataFrame([(probe,)], "x string")
    got = df.select(F.expr(
        f"regexp_extract_all(x, '{_regex_class(_WHITESPACE)}', 0)")).first()[0]
    assert got == [c for c in probe if c.isspace()]


def test_python_udf_only_for_kss_and_words(spark):
    """punct and newline chunk in the JVM; kss (a Python library) and
    words:N (faster in Python on long documents) plan the pandas UDF."""
    df = spark.createDataFrame([(1, "a. b.")], "doc_id long, text string")

    def plan(mode):
        return chunk_documents(df, mode=mode)._jdf.queryExecution() \
            .executedPlan().toString()

    for mode in ("punct", "newline"):
        assert not any(n in plan(mode) for n in (
            "ArrowEvalPython", "BatchEvalPython")), mode
    for mode in ("kss", "words:2"):
        assert "ArrowEvalPython" in plan(mode), mode
