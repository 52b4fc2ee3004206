"""O4 — multi-pattern span extraction, the core operator.

Reference semantics (core/regex_highlighter.py:16-25): for each bank entry in
order, ``re.finditer`` over the text; entries are independent (overlapping
spans across patterns coexist); duplicate entries each produce their own full
span set (multicast).

Spark realization — two shapes over the same per-worker ``CompiledBank``
(compiled once per Python worker, bank deduped to distinct pattern strings,
cheap alternation prefilter for the no-match common case):

- ``with_spans``: a scalar Arrow-batched pandas UDF producing the D4 span
  column ``array<struct<pattern_id,start,end,match>>`` per turn. Matching
  stays in Python ``re`` deliberately: Spark SQL's ``regexp_extract_all`` is
  the Java dialect, and oracle equality demands Python semantics
  (SURVEY.md §4.3).
- ``parse_and_explode``: the scalar spans UDF followed by a JVM-side
  ``explode_outer`` (one output row per span, one null-span row per
  unmatched turn) — the per-span-row shape the document-level contract
  queries use. Crucially only the TEXT column crosses the JVM<->Python
  boundary; every other payload column stays in Tungsten rows. An earlier
  ``mapInPandas`` formulation that round-tripped all columns through Arrow
  measured ~3x slower at 3.4M turns — the regex was never the bottleneck,
  the serialization was.
- ``make_parse_normalize_udf``: fuses O7 normalization and O4 extraction
  into ONE Python crossing (struct<norm_text, spans> out) for the pipeline,
  halving Arrow traffic when both stages run.

All paths are tested equal to the pure-Python oracle and to each other.
"""

from __future__ import annotations

from functools import lru_cache as _lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logparserhelper_spark.banks import (
    PatternBank,
    TransformBank,
    get_compiled_bank,
    get_compiled_transforms,
)

SPAN_STRUCT = T.StructType(
    [
        T.StructField("pattern_id", T.IntegerType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("match", T.StringType()),
    ]
)
SPAN_ARRAY_TYPE = T.ArrayType(SPAN_STRUCT)


def make_extract_spans_udf(bank: PatternBank):
    spec = bank.spec()  # plain tuple: cheap closure capture, hashable cache key

    @F.pandas_udf(SPAN_ARRAY_TYPE)
    def extract_spans(texts: pd.Series) -> pd.Series:
        cb = get_compiled_bank(spec)
        return pd.Series(
            cb.extract_batch(texts.tolist()), index=texts.index, dtype=object
        )

    return extract_spans


def with_spans(df: DataFrame, bank: PatternBank, text_col: str = "text") -> DataFrame:
    return df.withColumn("spans", make_extract_spans_udf(bank)(F.col(text_col)))


SPAN_FIELDS = ["pattern_id", "start", "end", "match"]


def _explode_spans(df: DataFrame, spans_col: str = "_spans") -> DataFrame:
    """JVM-side fan-out: one row per span; empty span arrays keep exactly one
    row with null span fields (explode_outer) — the unmatched route."""
    in_cols = [c for c in df.columns if c != spans_col]
    ex = df.select(*in_cols, F.explode_outer(spans_col).alias("_s"))
    return ex.select(
        *in_cols, *[F.col(f"_s.{f}").alias(f) for f in SPAN_FIELDS]
    )


def parse_and_explode(
    df: DataFrame, bank: PatternBank, text_col: str = "text"
) -> DataFrame:
    """Extract + explode + unmatched. Output schema = input columns plus
    (pattern_id int, start int, end int, match string); unmatched turns keep
    exactly one row with those four columns null."""
    out = df.withColumn("_spans", make_extract_spans_udf(bank)(F.col(text_col)))
    return _explode_spans(out)


NAMED_CAPTURE_ENTRIES_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("value", T.StringType()),
        ]
    )
)


def make_named_capture_udf(pattern: str):
    """Arrow-batched UDF: first-match ``groupdict()`` per row as (key, value)
    entries (Python-re dialect, like every matcher here). None when the
    pattern has no match or the row is null."""

    @F.pandas_udf(NAMED_CAPTURE_ENTRIES_TYPE)
    def capture(texts: pd.Series) -> pd.Series:
        import re

        rx = re.compile(pattern)
        out = []
        for t in texts.tolist():
            if not isinstance(t, str):
                out.append(None)
                continue
            m = rx.search(t)
            out.append(list(m.groupdict().items()) if m else None)
        return pd.Series(out, index=texts.index, dtype=object)

    return capture


def with_named_captures(
    df: DataFrame, pattern: str, text_col: str = "text", out_col: str = "captures"
) -> DataFrame:
    """Named-capture extraction to ``map<string,string>`` (SURVEY §1.2 D3/D4):
    the reference exposes named groups only through re.sub templates
    (gui/log_generator.py:44, ``\\g<name>``); here the first match's named
    groups become a typed map column, assembled JVM-side with
    ``map_from_entries`` over the UDF's entry structs. Groups that did not
    participate in the match map to null values."""
    entries = make_named_capture_udf(pattern)(F.col(text_col))
    return df.withColumn(out_col, F.map_from_entries(entries))


def make_regex_matches_udtf():
    """Python UDTF (Spark 4, Arrow-optimized): one output row per regex match
    with Python-``re`` span positions — the table-function surface of O4.
    Row-at-a-time by design (UDTFs are); the pipeline hot path stays the
    Arrow-batched scalar UDF + explode (extract.py module docstring). The
    pattern compiles once per (worker, pattern) via the module cache."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="start int, end int, match string", useArrow=True)
    class RegexMatches:
        def eval(self, text: str, pattern: str):
            import re

            if not isinstance(text, str):
                return
            try:
                rx = re.compile(pattern)  # re module caches compiled patterns
            except re.error:
                return
            for m in rx.finditer(text):
                yield (m.start(), m.end(), m.group(0))

    return RegexMatches


PARSE_NORM_TYPE = T.StructType(
    [
        T.StructField("norm_text", T.StringType()),
        T.StructField("spans", SPAN_ARRAY_TYPE),
    ]
)


def make_parse_normalize_udf(bank: PatternBank, tbank: TransformBank | None):
    """Fused O4+O7: one Python crossing producing struct<norm_text, spans>.
    norm_text == text when tbank is None/empty.

    Per-row transform-step SKIPPING: extraction already computed, on the
    ORIGINAL text, which bank patterns matched each row. A transform step
    whose pattern is a bank pattern with zero spans in the row is a no-op —
    provided replacements cannot CREATE a match for it at a seam, which
    ``transform_skip_safety`` (banks.py) proves per step from the regex
    parse trees (no zero-width assertions; earlier replacements constant;
    the pattern can't consume a replacement's edge chars or match its
    interior). Unsafe or non-bank steps always run; rows with zero spans
    run only the unsafe steps (usually none — the identity). On the bench
    corpus (~65% matched rows, typically 1-2 of 6 distinct patterns each)
    this removes most of the normalize-side regex scans while staying
    bit-equal to the sequential re.sub chain — pinned by the adversarial
    + randomized equality tests in tests/test_property.py."""
    spec = bank.spec()
    tspec = tbank.spec() if tbank is not None else ()

    @F.pandas_udf(PARSE_NORM_TYPE)
    def parse_norm(texts: pd.Series) -> pd.DataFrame:
        cb = get_compiled_bank(spec)
        ct = get_compiled_transforms(tspec)
        tl = texts.tolist()
        span_lists = cb.extract_batch(tl)
        if ct.steps:
            norm = pd.Series(
                normalize_batch_with_span_knowledge(tl, span_lists, spec, ct),
                index=texts.index,
                dtype=object,
            )
        else:
            norm = texts
        spans = pd.Series(span_lists, index=texts.index, dtype=object)
        return pd.DataFrame({"norm_text": norm, "spans": spans})

    return parse_norm


@_lru_cache(maxsize=64)
def _skip_plan(spec, ct_patterns, ct_skip_safe, ct_repls):
    """(pid -> pattern, skippable step indices, always-run step indices,
    per-step constant replacement or None) — invariant per (bank spec,
    compiled chain); cached so the per-Arrow-batch hot loop doesn't rebuild
    dicts/sets it can never change."""
    bank_patterns = {p for _pid, _n, p, _s in spec}
    pid_to_pattern = {pid: p for pid, _n, p, _s in spec}
    skippable_set = frozenset(
        j
        for j, (p, safe) in enumerate(zip(ct_patterns, ct_skip_safe))
        if safe and p in bank_patterns
    )
    always_run = tuple(
        j for j in range(len(ct_patterns)) if j not in skippable_set
    )
    # a step is SPLICEABLE when its replacement is a plain constant (re.sub
    # backslash templates depend on the matched text) AND it is skippable
    # (skippable == its matches are knowable from the original-text spans)
    splice_repls = tuple(
        r if ("\\" not in r and j in skippable_set) else None
        for j, r in enumerate(ct_repls)
    )
    return pid_to_pattern, skippable_set, always_run, splice_repls


def _try_splice(text, sp, run, ct_patterns, splice_repls, pid_to_pattern):
    """Synthesize the sequential constant-replacement chain by splicing the
    ORIGINAL-text spans, without running any re.sub.

    Sound exactly when (a) every step to run is spliceable and (b) no two
    steps' spans overlap: then every original match survives the earlier
    replacements intact (no clipping), seam safety (already established for
    skippable steps) rules out replacement-created matches, and a remnant
    of a clipped match — the one other source of new matches — requires an
    overlap, which (b) excludes. Returns None when the preconditions fail
    (caller falls back to the real sub chain).

    Cost note (measured on 200k bench turns, 130k matched, 0 bails): on
    short log lines this is at PARITY with running the 1-2 matching subs —
    per-row Python bookkeeping dominates both. Its value is asymptotic:
    splice work scales with span COUNT while each skipped re.sub scans the
    full TEXT, so long documents (multi-KB turns) pay O(spans) instead of
    O(len * steps)."""
    pieces: list[tuple[int, int, str]] = []
    for j in run:
        repl = splice_repls[j]
        if repl is None:
            return None
        pat = ct_patterns[j]
        seen = set()
        for s in sp:
            if pid_to_pattern.get(s[0]) == pat and (s[1], s[2]) not in seen:
                seen.add((s[1], s[2]))
                pieces.append((s[1], s[2], repl))
    pieces.sort(key=lambda t: (t[0], t[1]))
    prev_end = -1
    for start, end, _ in pieces:
        if end <= start:
            return None  # zero-width match: sub's adjacency rules differ
        if start < prev_end:
            return None  # cross-step overlap: chain semantics need real subs
        prev_end = end
    out = []
    cursor = 0
    for start, end, repl in pieces:
        out.append(text[cursor:start])
        out.append(repl)
        cursor = end
    out.append(text[cursor:])
    return "".join(out)


def normalize_batch_with_span_knowledge(texts, span_lists, spec, ct):
    """The skip-aware normalize core (pure Python — property-tested directly
    against the full sequential chain in tests/test_property.py). For each
    row, runs only the transform steps that are (a) not provably skippable
    (``ct.skip_safe`` seam analysis + bank membership) or (b) matched the
    row's ORIGINAL text per the extraction spans."""
    pid_to_pattern, skippable_set, always_run, splice_repls = _skip_plan(
        spec,
        ct.patterns,
        ct.skip_safe,
        tuple(r for _rx, r in ct.steps),
    )
    n_steps = len(ct.steps)
    out = []
    for t, sp in zip(texts, span_lists):
        if not isinstance(t, str):
            out.append(t)
        elif sp:
            matched = {pid_to_pattern[s[0]] for s in sp}
            run = [
                j
                for j in range(n_steps)
                if j not in skippable_set or ct.patterns[j] in matched
            ]
            spliced = _try_splice(
                t, sp, run, ct.patterns, splice_repls, pid_to_pattern
            )
            if spliced is not None:
                out.append(spliced)
            else:
                out.append(
                    ct.apply(t) if len(run) == n_steps else ct.apply_steps(t, run)
                )
        elif always_run:
            out.append(ct.apply_steps(t, always_run))
        else:
            out.append(t)
    return out

