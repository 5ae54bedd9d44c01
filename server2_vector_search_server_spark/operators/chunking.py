"""Sentence splitting + greedy chunk merge (SURVEY.md §2 H5/H6, J3/J4).

Reproduces the observable behavior of the reference's
``KoreanSentenceSplitter`` (``text_spliter.py:54-166``) — the only
non-library algorithm in the reference — as a fresh implementation:

  * sentences are packed greedily into chunks joined by ``" "`` while the
    joined length stays ≤ ``chunk_size`` (``text_spliter.py:107-113``);
  * when a chunk closes, the *trailing* sentences whose joined length is
    ≤ ``chunk_overlap`` are carried into the next chunk
    (``text_spliter.py:119-138``, backward scan, stop at first overflow);
  * a single sentence longer than ``chunk_size`` flushes the current chunk
    and becomes its own (oversize) chunk (``text_spliter.py:91-105``);
  * if the current sentence doesn't fit even after overlap seeding, the
    pure-overlap chunk is flushed and the sentence starts a fresh chunk
    (``text_spliter.py:145-153``);
  * all emitted chunks are ``.strip()``-ed (``text_spliter.py:162-163``).

Sentence splitting: the reference uses KSS (Korean) with a newline-split
fallback on error (``text_spliter.py:62-68``). KSS isn't available here, so
the engine offers deterministic splitters with the same contract
(strip + drop empties): ``punct`` (sentence-ending punctuation, the KSS
analog), ``newline`` (the reference's fallback, exact), and ``words:N``
(fixed-size word groups, for corpora without punctuation — the driver's
``documents`` fixture).

Spark realization: for ``punct`` and ``newline`` (the engine's modes),
:func:`chunks_sql` builds the whole split + merge as ONE SQL-text expression
over the text column (a regex ``split``, then an ``aggregate`` over the
sentence lengths that carries only the emitted ``[a, b)`` sentence ranges),
so chunking runs in the JVM with no Python worker, like
``embedding.hash_embedding_expr``. ``kss`` calls a Python library and
``words:N`` is faster in Python (its ``str.split`` beat the two regex passes
of a SQL form on long documents), so both stay a pandas UDF over the pure
functions below. :func:`chunk_array` picks the form; either way the chunk
array is ``posexplode``-d: a narrow transformation, no shuffle, since
chunking one document never needs another document's rows. The pure
functions are the spec: importable, unit-tested without Spark, and pinned
string for string against :func:`chunks_sql`.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from server2_vector_search_server_spark import config

_SENTENCE_ENDERS = ".!?。！？"
_PUNCT_SPLIT = re.compile(rf"(?<=[{_SENTENCE_ENDERS}])\s+")
# Python's whitespace: the str.isspace set that re's \s, str.split() and
# str.strip() use. Java's \s is ASCII-only and (?U)\s lacks \x1c-\x1f, so
# the SQL chunker spells the set out.
_WHITESPACE = ("\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
               "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008"
               "\u2009\u200a\u2028\u2029\u202f\u205f\u3000")


def _kss_split(text: str) -> list[str]:
    """The reference's exact H5: KSS sentence splitting with ITS newline
    fallback on runtime errors (``text_spliter.py:57-68``). Import-gated like
    the embedding model (``embedding._load_model``): KSS is heavyweight and
    version-nondeterministic, so the container ships without it and tests
    pin the deterministic splitters instead (SURVEY.md §7); installing
    ``kss`` makes this path reference-exact, including the error fallback."""
    try:
        import kss  # type: ignore
    except ImportError as exc:
        raise NotImplementedError(
            "kss is not installed in this environment. Install it for "
            "reference-exact Korean sentence splitting (text_spliter.py:57); "
            "tests use mode='punct' (the KSS analog) or mode='newline' "
            "(the reference's own fallback).") from exc
    try:
        return list(kss.split_sentences(text))
    except Exception:              # text_spliter.py:66-68: fall back, don't die
        return text.split("\n")


def split_sentences(text: str, mode: str = "punct") -> list[str]:
    """Deterministic sentence splitting; strips and drops empties like the
    reference does after KSS (``text_spliter.py:59``)."""
    if text is None:
        return []
    if mode == "punct":
        parts: Iterable[str] = _PUNCT_SPLIT.split(text)
    elif mode == "newline":        # the reference's KSS-error fallback
        parts = text.split("\n")
    elif mode == "kss":            # the reference's primary path, import-gated
        parts = _kss_split(text)
    elif mode.startswith("words:"):
        n = int(mode.split(":", 1)[1])
        words = text.split()
        parts = (" ".join(words[i:i + n]) for i in range(0, len(words), n))
    else:
        raise ValueError(f"unknown sentence split mode {mode!r}")
    return [s for s in (p.strip() for p in parts) if s]


def merge_sentences(sentences: list[str],
                    chunk_size: int = config.CHUNK_SIZE,
                    chunk_overlap: int = config.CHUNK_OVERLAP,
                    separator: str = " ") -> list[str]:
    """Greedy sentence→chunk packing with trailing-sentence overlap.

    Behavior-parity target: ``text_spliter.py:80-166`` (see module docstring
    for the clause-by-clause mapping). Pure function — property-tested in
    ``tests/test_chunking.py``.
    """
    chunks: list[str] = []
    current: list[str] = []
    current_len = 0
    sep_len = len(separator)

    def joined_len(base_len: int, n_parts: int, add_len: int) -> int:
        return base_len + add_len + (sep_len if n_parts else 0)

    for sentence in sentences:
        s_len = len(sentence)

        if s_len > chunk_size:
            # oversize sentence: flush, emit alone, reset (no overlap carry)
            if current:
                chunks.append(separator.join(current))
            chunks.append(sentence)
            current, current_len = [], 0
            continue

        fits = joined_len(current_len, len(current), s_len)
        if fits <= chunk_size:
            current.append(sentence)
            current_len = fits
            continue

        # close the full chunk
        chunks.append(separator.join(current))

        # seed the next chunk with trailing overlap sentences
        overlap: list[str] = []
        overlap_len = 0
        for prev in reversed(current):
            cand = joined_len(overlap_len, len(overlap), len(prev))
            if cand <= chunk_overlap:
                overlap.insert(0, prev)
                overlap_len = cand
            else:
                break

        current, current_len = overlap, overlap_len
        with_overlap = joined_len(current_len, len(current), s_len)
        if with_overlap <= chunk_size:
            current.append(sentence)
            current_len = with_overlap
        else:
            # sentence doesn't fit beside the overlap: flush the pure-overlap
            # chunk and restart from the sentence alone
            if current:
                chunks.append(separator.join(current))
            current, current_len = [sentence], s_len

    if current:
        chunks.append(separator.join(current))
    return [c.strip() for c in chunks]


def split_text(text: str, chunk_size: int = config.CHUNK_SIZE,
               chunk_overlap: int = config.CHUNK_OVERLAP,
               mode: str = "punct") -> list[str]:
    """Full H5+H6 pipeline for one document."""
    return merge_sentences(split_sentences(text, mode), chunk_size,
                           chunk_overlap)


def _sql_chars(chars: str) -> str:
    """``chars`` as SQL string-literal escapes (backslash, ``u``, four hex
    digits), so the SQL text stays ASCII and each character reaches the JVM
    as itself."""
    return "".join(f"\\u{ord(c):04X}" for c in chars)


def _regex_class(chars: str) -> str:
    """A Java regex class of ``chars``, as SQL string-literal text. Java
    tests a class's Latin-1 singles with one table lookup but every other
    single with one more call, and a regex split tests a class at nearly
    every character. So the wider characters sit behind one range check
    (``[lo-hi&&[...]]``), which most characters fail at once: splitting
    12 KB documents ran about 1.8x faster than with a flat class."""
    narrow = "".join(c for c in chars if ord(c) < 256)
    wide = "".join(c for c in chars if ord(c) >= 256)
    return (f"[{_sql_chars(narrow)}[{_sql_chars(min(wide))}-"
            f"{_sql_chars(max(wide))}&&[{_sql_chars(wide)}]]]")


def _sentences_sql(text_sql: str, mode: str) -> str:
    """:func:`split_sentences` as SQL text: the array of stripped, non-empty
    sentences of ``text_sql`` (null for null text)."""
    def strip(x: str) -> str:
        # trim(BOTH ...), not a regexp_replace, which was far slower on
        # long documents
        return f"trim(BOTH '{_sql_chars(_WHITESPACE)}' FROM {x})"

    def nonempty(arr: str) -> str:
        return f"array_remove({arr}, '')"

    if mode == "punct":
        # the split consumes the whitespace between pieces, so only the
        # text's own ends need stripping: the first and last pieces. Spark's
        # trim walks the whole string, so trimming the text costs more.
        pieces = (f"split({text_sql}, '(?<={_regex_class(_SENTENCE_ENDERS)})"
                  f"{_regex_class(_WHITESPACE)}+')")
        return nonempty(f"transform(array({pieces}), ps -> transform(ps, "
                        f"(p, j) -> IF(j = 0 OR j = size(ps) - 1, "
                        f"{strip('p')}, p)))[0]")
    if mode == "newline":
        return nonempty(f"transform(split({text_sql}, '{_sql_chars(chr(10))}'"
                        f"), p -> {strip('p')})")
    raise ValueError(f"no SQL form for sentence split mode {mode!r}")


def chunks_sql(text_sql: str, chunk_size: int = config.CHUNK_SIZE,
               chunk_overlap: int = config.CHUNK_OVERLAP,
               mode: str = "punct") -> str:
    """:func:`split_text` of the SQL expression ``text_sql`` as one SQL-text
    expression: the array of chunk strings (null for null text). Modes
    ``punct`` and ``newline`` only.

    The merge is an ``aggregate`` over the sentence lengths whose state is
    the emitted ``[a, b)`` sentence ranges ``r`` (flat: ``a0, b0, a1, b1,
    ...``; ``aggregate`` copies its state every step, and a flat int array
    is the cheapest to copy), the current chunk's first sentence ``a``,
    and the index ``i`` of the sentence being placed (the current chunk is
    always sentences ``[a, i)``). ``c`` is the current
    chunk's joined length plus one separator, 0 when it is empty, so a
    sentence of length ``ln`` fits when ``c + ln <= chunk_size`` (every
    sentence is non-empty, so ``c > 0`` means the chunk is). A close
    computes the overlap with a backward ``aggregate`` over the current
    chunk's lengths: ``k`` trailing sentences, ``m`` their ``c``. Strings
    are built once, at the end, by joining each range's sentences with
    ``" "``; they are already stripped, because every sentence is. The
    sentence and length arrays are bound once to lambda variables, so
    neither is re-evaluated per element.

    Because each step copies ``r``, one fold over all ``n`` sentences costs
    ``n`` times the number of chunks. So the fold runs in blocks of
    ``w = ceil(sqrt(n))`` sentences: an outer ``aggregate`` over the blocks
    carries ``r``, and each block folds from the carried ``a``, ``c`` and
    ``i`` with an empty ``r`` of its own, which it appends at the block's
    end. A 10 MB document took about 23 s in one fold and about 1 s in
    blocks (2 Spark threads on a 4-core box), as fast as the pandas UDF.
    """
    size, overlap = int(chunk_size), int(chunk_overlap)

    def step(r: str, a: str, c: str) -> str:
        return f"named_struct('r', {r}, 'a', {a}, 'c', {c}, 'i', acc.i + 1)"

    closed = "concat(acc.r, array(acc.a, acc.i))"
    # a sentence longer than chunk_size flushes the current chunk and is
    # emitted alone; nothing carries over
    oversize = step(f"concat(IF(acc.c > 0, {closed}, acc.r), "
                    f"array(acc.i, acc.i + 1))", "acc.i + 1", "0")
    # the backward scan keeps nothing past the first overflowing sentence
    trailing = (
        f"aggregate(reverse(slice(lens, acc.a + 1, acc.i - acc.a)), "
        f"named_struct('k', 0, 'm', 0, 'done', false), (o, x) -> "
        f"IF(o.done OR o.m + x > {overlap}, "
        f"named_struct('k', o.k, 'm', o.m, 'done', true), "
        f"named_struct('k', o.k + 1, 'm', o.m + x + 1, 'done', false)))")
    # when the sentence does not fit beside the overlap, the overlap is
    # flushed as its own chunk and the sentence starts a fresh one
    flushed = (f"IF(ov.k > 0, concat({closed}, array(acc.i - ov.k, acc.i)), "
               f"{closed})")
    close = (
        f"transform(array({trailing}), ov -> IF(ov.m + ln <= {size}, "
        f"{step(closed, 'acc.i - ov.k', 'ov.m + ln + 1')}, "
        f"{step(flushed, 'acc.i', 'ln + 1')}))[0]")
    zero = ("named_struct('r', CAST(array() AS ARRAY<INT>), 'a', 0, 'c', 0, "
            "'i', 0)")
    finish = (f"acc -> transform(array(IF(acc.c > 0, {closed}, acc.r)), rr -> "
              f"IF(size(rr) = 0, array(), transform(sequence(0, size(rr) DIV 2"
              f" - 1), j -> array_join(slice(sents, rr[2 * j] + 1, "
              f"rr[2 * j + 1] - rr[2 * j]), ' '))))[0]")
    place = (f"(acc, ln) -> CASE WHEN ln > {size} THEN {oversize} "
             f"WHEN acc.c + ln <= {size} THEN "
             f"{step('acc.r', 'acc.a', 'acc.c + ln + 1')} "
             f"ELSE {close} END")
    # a block of w sentences folds from the carried a, c, i with no ranges,
    # then appends its ranges to the carried ones
    block = (f"aggregate(slice(lens, b + 1, w), named_struct('r', "
             f"CAST(array() AS ARRAY<INT>), 'a', blk.a, 'c', blk.c, 'i', "
             f"blk.i), {place}, acc -> named_struct('r', concat(blk.r, "
             f"acc.r), 'a', acc.a, 'c', acc.c, 'i', acc.i))")
    merge = (f"transform(array(greatest(1, int(ceil(sqrt(size(lens)))))), "
             f"w -> aggregate(filter(sequence(0, size(lens), w), "
             f"b -> b < size(lens)), {zero}, (blk, b) -> {block}, "
             f"{finish}))[0]")
    # null text gives null sentences; the guard keeps the merge from them,
    # since with ANSI off ``size`` of a null array is -1, not null, and
    # ``sequence(0, -1, w)`` fails the job
    return (f"transform(array({_sentences_sql(text_sql, mode)}), sents -> "
            f"IF(sents IS NULL, NULL, "
            f"transform(array(transform(sents, s -> length(s))), "
            f"lens -> {merge})[0]))[0]")


def chunk_array(text_col: str, chunk_size: int = config.CHUNK_SIZE,
                chunk_overlap: int = config.CHUNK_OVERLAP,
                mode: str = "punct") -> Column:
    """The chunk strings of the column ``text_col``, one array per row
    (null for null text): :func:`chunks_sql` (JVM only) for ``punct`` and
    ``newline``, a pandas UDF over :func:`split_text` for ``kss`` and
    ``words:N``. The one copy of the mode switch: :func:`chunk_documents`
    explodes this array, and an upload counts each document's chunks with
    its ``size`` before writing them. Over a ``LocalRelation`` a SQL form
    is folded on the driver and runs no job; the UDF forms run one."""
    if mode in ("punct", "newline"):
        return F.expr(chunks_sql(f"`{text_col}`", chunk_size, chunk_overlap,
                                 mode))

    def _chunk(texts):
        return texts.map(
            lambda t: split_text(t, chunk_size, chunk_overlap, mode))

    # no type hints: `from __future__ import annotations` stringifies
    # them, which PySpark's eval-type inference can't read
    return F.pandas_udf(_chunk, "array<string>")(F.col(text_col))


def chunk_documents(docs: DataFrame, *, id_col: str = "doc_id",
                    text_col: str = "text",
                    chunk_size: int = config.CHUNK_SIZE,
                    chunk_overlap: int = config.CHUNK_OVERLAP,
                    mode: str = "punct") -> DataFrame:
    """Distributed chunking: one input row per document → one output row per
    chunk with ``chunk_index`` (the materialized per-doc row_number the
    reference assigns at split time, ``document_processor.py:141-147``).

    The chunk array is :func:`chunk_array` over ``text_col``,
    ``posexplode``-d: a narrow transformation with no shuffle. Carries all
    other input columns through.
    """
    chunks = chunk_array(text_col, chunk_size, chunk_overlap, mode)
    # the generator takes the expression itself: exploding a projected
    # column instead ran about 1.6x slower on 12 KB documents
    return docs.select(*[c for c in docs.columns if c != text_col],
                       F.posexplode(chunks).alias("chunk_index", "content"))
