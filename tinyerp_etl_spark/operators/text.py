"""Text analysis operators for large-scale training-data pipelines.

All pure Column expressions (JVM-side, codegen-friendly): tokenizing,
quality scoring, language ID, fingerprinting. Designed so every
expression has an exactly-equivalent DuckDB formulation (see
plans/llm_ops.py oracles) — integer/count-based features, with doubles
only as final deterministic divisions of exact integers.

At 100 TB these are embarrassingly parallel map-side projections — no
shuffle, no UDF, full WholeStageCodegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from tinyerp_etl_spark.functions.materialize import materialize

WORD_RE = r"(\w+)"

# Tiny per-language marker vocabularies for the n-gram/stopword
# language-ID heuristic. Deterministic and SQL-expressible; real
# pipelines would swap in fastText — the *plumbing* (scored argmax
# over marker families) is what the operator demonstrates.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "los", "que", "de"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "les", "et", "est", "une"],
    "zh": ["de", "shi", "le", "bu", "wo"],
}


def tokens(col: Column | str) -> Column:
    """Lowercased word tokens (regex ``\\w+``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(WORD_RE), 1)


def token_count(col: Column | str) -> Column:
    """Whitespace/punct-delimited token count."""
    return F.array_size(tokens(col))


#: GPT-2-flavor pre-tokenizer: contraction suffixes, space-prefixed
#: letter runs, digit runs, punctuation runs. Deliberately restricted
#: to a regex subset Java (Spark) and RE2 (DuckDB) match identically —
#: no lookarounds, no unicode classes.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9']+"


def bpe_token_estimate(col: Column | str) -> Column:
    """BPE-flavor token count (LLM budget estimate, not whitespace).

    Counts pre-tokenizer segments the way byte-pair encoders split
    before merges — the standard cheap stand-in for a real tokenizer
    when budgeting corpus token counts at scale. Pure column
    expression: JVM-side regex, no UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.array_size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def punct_count(col: Column | str) -> Column:
    r"""Number of non-word, non-whitespace characters (whitespace as
    the explicit Java-\s class — Java's \s includes \x0B where
    RE2's does not, so a bare [\\w\\s] would count \x0B as punct in
    the oracle but not the engine)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, r"[\w \t\n\x0B\f\r]", ""))


def distinct_token_count(col: Column | str) -> Column:
    return F.array_size(F.array_distinct(tokens(col)))


def quality_features(col: Column | str) -> dict[str, Column]:
    """Exact-integer quality signals + deterministic derived ratios.

    The ratios divide exact integers, so results are bit-stable across
    engines and partitionings.
    """
    n_tok = token_count(col)
    n_chr = char_count(col)
    n_punct = punct_count(col)
    n_distinct = distinct_token_count(col)
    return {
        "n_tokens": n_tok,
        "n_chars_calc": n_chr,
        "n_punct": n_punct,
        "n_distinct_tokens": n_distinct,
        "avg_token_len": (
            F.aggregate(
                tokens(col), F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
            )
            / n_tok
        ).cast("double"),
        "ttr": (n_distinct / n_tok).cast("double"),  # type-token ratio
        "punct_ratio": (n_punct / n_chr).cast("double"),
        "stopword_ratio": (stopword_count(col) / n_tok).cast("double"),
    }


# English stopwords for the quality-signal ratio (deterministic, tiny;
# a production pipeline would use a per-language list)
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "were", "it", "that", "this", "with", "for", "on", "as", "at",
]


def stopword_count(col: Column | str) -> Column:
    """Occurrences of stopword tokens (exact integer)."""
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.when(F.array_contains(sw, t), 1).otherwise(0),
    )


def c4_verdict(col: Column | str) -> Column:
    """C4-style quality verdict: FIRST failing rule, else ``keep``.

    The single source of truth for the rule cascade (too_short →
    too_much_punct → low_stopword) shared by the standalone filter
    query and the end-to-end curation pipeline — thresholds compare
    exact integers cross-multiplied, so no float ever decides a
    keep/drop and any SQL mirror reproduces the branch bit-for-bit.
    """
    n_tok = token_count(col)
    n_chr = char_count(col).cast("long")
    n_punct = punct_count(col).cast("long")
    n_sw = stopword_count(col)
    return (
        F.when(n_tok < 25, F.lit("too_short"))
        .when(n_punct * 10 > n_chr, F.lit("too_much_punct"))
        .when(n_sw * 10 < n_tok, F.lit("low_stopword"))
        .otherwise(F.lit("keep"))
    )


#: Gopher quality-rule constants (Rae et al. 2021, "Scaling Language
#: Models: Methods, Analysis & Insights from Training Gopher",
#: Appendix A1.1) — the OTHER standard rule family next to C4's:
#: where C4 gates on punctuation/stopword density, Gopher gates on
#: word-count bounds, mean word length, symbol density, list/ellipsis
#: line structure, alphabetic-word share, and the presence of common
#: English words. Integer thresholds, cross-multiplied — no float
#: ever decides a keep/drop.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_REQUIRED_WORDS = [
    "the", "be", "to", "of", "and", "that", "have", "with",
]


def gopher_verdict(col: Column | str) -> Column:
    """Gopher verdict alone — see ``gopher_stats`` (the struct face
    whose one bound tokenizer pass serves both the verdict and the
    word count; reading one field costs the same pass)."""
    return gopher_stats(col).getField("verdict")


def gopher_stats(col: Column | str) -> Column:
    r"""``struct<n_words int, verdict string>`` — Gopher-style quality
    verdict: FIRST failing rule, else ``keep`` (the c4_verdict
    convention — one source of truth for the cascade, shared by the
    standalone filter query and any pipeline that composes it). The
    word count rides in the same struct because two independent
    output expressions would EACH re-run the tokenizer regex over the
    full text (higher-order expressions are never CSE'd); consumers
    select the struct in one projection and its fields in a second.

    Rules, in paper order (Rae et al. 2021 A1.1), all exact-integer:
    word count in [50, 100 000]; mean word length in [3, 10] chars;
    symbol-to-word ratio ≤ 0.1 for EACH of '#' chars and '...' runs
    (the paper gates the two symbols individually, not their sum); ≤
    90 % of lines starting with a bullet ('-'/'*' after indent); ≤
    30 % of lines ending with '...'; ≥ 80 % of words containing an
    [a-z] letter; ≥ 2 distinct words of GOPHER_REQUIRED_WORDS present.
    The tokenizer and the line split are each bound ONCE per row
    (dedup._bind_once — Catalyst does not CSE through higher-order
    functions). Pure codegen expressions, no UDF, engine-portable
    (the oracle replays every rule in SQL).
    """
    from tinyerp_etl_spark.operators.dedup import _bind_once

    c = F.col(col) if isinstance(col, str) else col
    n_ell = F.array_size(F.regexp_extract_all(c, F.lit(r"\.\.\."), 0))
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    req = F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS])

    def _with_lines(lines: Column) -> Column:
        n_lines = F.array_size(lines)
        n_bullet = F.array_size(
            F.filter(lines, lambda l: l.rlike(r"^[ \t]*[-*]"))
        )
        n_ell_lines = F.array_size(
            F.filter(lines, lambda l: F.rtrim(l).endswith("..."))
        )
        return F.when(
            n_bullet * 10 > 9 * n_lines, F.lit("too_many_bullets")
        ).when(
            n_ell_lines * 10 > 3 * n_lines, F.lit("too_many_ellipses")
        )

    def _scored(toks: Column) -> Column:
        n_words = F.array_size(toks)
        tot_len = F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        )
        n_alpha = F.array_size(F.filter(toks, lambda t: t.rlike("[a-z]")))
        n_req = F.array_size(F.array_intersect(F.array_distinct(toks), req))
        # coalesce keeps the paper's rule order while evaluating the
        # bound line expression exactly once: word-count/length/symbol
        # rules, then the line-structure rules, then the word-share
        # rules — each leg NULL when none of its rules fire
        pre = (
            F.when(n_words < GOPHER_MIN_WORDS, F.lit("too_few_words"))
            .when(n_words > GOPHER_MAX_WORDS, F.lit("too_many_words"))
            .when(tot_len < 3 * n_words, F.lit("low_mean_word_len"))
            .when(tot_len > 10 * n_words, F.lit("high_mean_word_len"))
            .when(
                (n_hash * 10 > n_words) | (n_ell * 10 > n_words),
                F.lit("high_symbol_ratio"),
            )
        )
        post = (
            F.when(n_alpha * 10 < 8 * n_words, F.lit("low_alpha_ratio"))
            .when(n_req < 2, F.lit("low_stopword"))
            .otherwise(F.lit("keep"))
        )
        verdict = F.coalesce(
            pre, _bind_once(F.split(c, "\n"), _with_lines), post
        )
        return F.struct(
            n_words.cast("int").alias("n_words"),
            verdict.alias("verdict"),
        )

    return _bind_once(tokens(col), _scored)


#: Gopher repetition thresholds in ppm of the floor-ppm signal (Rae et
#: al. 2021 Table A1, the within-document repetition family; a rule
#: fires when signal_ppm > threshold). Verdict order = dict order.
#: The dup-n-gram family is checked LONGEST FIRST (10 → 5), by a
#: structural theorem of the non-de-overlapped counting this module
#: uses: every duplicated n-gram occurrence contains two duplicated
#: (n−1)-gram occurrences, so dup_(n−1) char mass ≥ dup_n char mass
#: while the thresholds shrink only 1.5x across the whole family —
#: dup_5 would therefore ALWAYS fire before dup_6..10 and make five
#: verdict values unreachable. Longest-first reports the most
#: informative fact (the longest repeated-gram family in violation);
#: the set of dropped documents is identical either way.
GOPHER_REP_THRESHOLDS: dict[str, int] = {
    "dup_lines": 300_000,
    "dup_paras": 300_000,
    "dup_line_chars": 200_000,
    "dup_para_chars": 200_000,
    "top_2gram": 200_000,
    "top_3gram": 180_000,
    "top_4gram": 160_000,
    "dup_10gram": 100_000,
    "dup_9gram": 110_000,
    "dup_8gram": 120_000,
    "dup_7gram": 130_000,
    "dup_6gram": 140_000,
    "dup_5gram": 150_000,
}


def _run_stats(arr_sorted: Column) -> Column:
    """``struct<best_cnt, best_len, dup_items, dup_chars>`` over the
    equal-string RUNS of a SORTED array — the per-row frequency table
    every repetition signal needs, in ONE O(L) interpreted pass (after
    the O(L log L) array_sort) instead of an explode + per-doc shuffle:
    a within-document signal never has a reason to leave its row.
    ``best_*`` is the lexicographic max of (count, char length) — the
    most frequent item, longest on count ties; items tied on both
    yield the same char coverage, so deeper tie-breaks cannot change
    any derived fraction. ``dup_*`` sum every run of length ≥ 2 (item
    count and character mass). run=0 marks "no previous", so empty
    STRINGS are ordinary items (only lines can be empty here, and two
    blank lines are a real duplicate pair by the line-rule contract).
    """
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best_cnt"),
        F.lit(0).cast("long").alias("best_len"),
        F.lit(0).cast("long").alias("dup_items"),
        F.lit(0).cast("long").alias("dup_chars"),
    )

    def close(acc):
        plen = F.length(acc["prev"]).cast("long")
        better = (acc["run"] > acc["best_cnt"]) | (
            (acc["run"] == acc["best_cnt"]) & (plen > acc["best_len"])
        )
        return (
            F.when(better, acc["run"]).otherwise(acc["best_cnt"]),
            F.when(better, plen).otherwise(acc["best_len"]),
            acc["dup_items"]
            + F.when(acc["run"] >= 2, acc["run"]).otherwise(
                F.lit(0).cast("long")
            ),
            acc["dup_chars"]
            + F.when(acc["run"] >= 2, acc["run"] * plen).otherwise(
                F.lit(0).cast("long")
            ),
        )

    def step(acc, g):
        same = (acc["run"] > 0) & (g == acc["prev"])
        bc, bl, di, dc = close(acc)
        return F.when(
            same,
            F.struct(
                acc["prev"].alias("prev"),
                (acc["run"] + 1).alias("run"),
                acc["best_cnt"].alias("best_cnt"),
                acc["best_len"].alias("best_len"),
                acc["dup_items"].alias("dup_items"),
                acc["dup_chars"].alias("dup_chars"),
            ),
        ).otherwise(
            F.struct(
                g.alias("prev"),
                F.lit(1).cast("long").alias("run"),
                bc.alias("best_cnt"),
                bl.alias("best_len"),
                di.alias("dup_items"),
                dc.alias("dup_chars"),
            )
        )

    def finish(acc):
        bc, bl, di, dc = close(acc)
        return F.struct(
            bc.alias("best_cnt"),
            bl.alias("best_len"),
            di.alias("dup_items"),
            dc.alias("dup_chars"),
        )

    return F.aggregate(arr_sorted, zero, step, finish)


def _ppm(num: Column, denom: Column) -> Column:
    """Exact floor ppm, 0 on an empty denominator — via INTEGRAL
    division (``div`` / IntegralDivide), never a rounded quotient.
    Two rejected forms, both measured to diverge from the Python
    model's and DuckDB oracle's exact ``//``: Spark's ``/`` on longs
    is a double Divide (a correctly-rounded double can land one ABOVE
    the true floor past the 2^53 mantissa), and ``floor(decimal /
    decimal)`` is floor of a HALF_UP-rounded decimal(38,6) quotient —
    for denominators past ~2e6 a fractional part ≥ 1 − 5e-7 rounds
    across the integer boundary before floor sees it (reproduced:
    num·1e6 = 5000000·d + (d−1) at d = 4000001 returns 5000001).
    ``div`` truncates the EXACT quotient toward zero, which equals
    floor here (both operands are non-negative masses/counts). The
    ×1e6 happens AFTER the decimal(38,0) cast: in int64 it would
    silently wrap past num ≈ 9.2e12."""
    return F.when(
        denom > 0,
        F.call_function(
            "div",
            num.cast("decimal(38,0)") * F.lit(1_000_000),
            denom.cast("decimal(38,0)"),
        ),
    ).otherwise(F.lit(0)).cast("long")


def repetition_stats(col: Column | str) -> Column:
    r"""``struct<...13 ppm signals..., verdict string>`` — the Gopher
    WITHIN-document repetition family (Rae et al. 2021 A1.2), the
    sibling of ``gopher_stats``' A1.1 rules: excessively self-repeating
    documents (boilerplate loops, keyword stuffing, template spam) are
    dropped by the FIRST failing rule in paper-table order, else
    ``keep``.

    Exact integer definitions (each rounded to floor ppm; rules fire
    on ppm > threshold, thresholds in GOPHER_REP_THRESHOLDS — the
    Python model in tests/test_properties.py and the DuckDB oracle
    replay them bit-for-bit):

    - ``dup_lines``: lines (split '\n') occurring ≥ 2x in the doc,
      ALL occurrences counted, over total lines. ``dup_line_chars``:
      their character mass over total line characters.
    - ``dup_paras``: same at paragraph granularity — paragraphs are
      the corpus's PARA_W-token chunk convention (operators/dedup.
      paragraph_rows; the synthetic corpus has no blank-line
      structure), joined by single spaces.
    - ``top_{2,3,4}gram``: character mass (count x join-length) of the
      MOST FREQUENT word n-gram over total token characters
      (sum of token lengths + L-1 joining spaces); computed even when
      nothing repeats (the paper's rule — a cnt=1 top gram covers a
      tiny fraction of a long doc).
    - ``dup_{5..10}gram``: character mass of ALL word n-grams
      occurring ≥ 2x over total token characters. Documented
      divergence from the paper: occurrences are summed without
      overlap-deduplication (the paper de-overlaps spans; public
      reimplementations differ here — this family's exact rule is the
      one stated, enforced identically in all three engines).

    Plan shape for 100 TB: everything is ONE map-side projection —
    per granularity, array_sort + one O(L) run-length fold
    (``_run_stats``) replaces the explode + groupBy a naive port
    would shuffle; no joins, no windows, no data leaves its row. The
    tokenizer and line split are each bound once per row
    (dedup._bind_once).
    """
    from tinyerp_etl_spark.operators.dedup import PARA_W, _bind_once

    c = F.coalesce(
        F.col(col) if isinstance(col, str) else col, F.lit("")
    )  # NULL text reads as '' (the line_dedup_summary convention)
    w = PARA_W  # the corpus paragraph convention (operators/dedup)

    def _with_all(toks: Column) -> Column:
        def _with_lines(lines: Column) -> Column:
            L = F.array_size(toks).cast("long")
            tok_len_sum = F.aggregate(
                toks,
                F.lit(0).cast("long"),
                lambda acc, t: acc + F.length(t),
            )
            tot_chars = tok_len_sum + F.greatest(
                L - 1, F.lit(0).cast("long")
            )
            n_paras = F.floor((L + w - 1) / w).cast("long")
            paras = F.when(
                L > 0,
                F.transform(
                    F.sequence(F.lit(0), (n_paras - 1).cast("int")),
                    lambda j: F.array_join(
                        F.slice(toks, j.cast("int") * w + 1, w), " "
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
            # each k-token paragraph joins with k-1 spaces: total mass
            # = token chars + (L - n_paras) spaces, exactly
            para_chars = tok_len_sum + (L - n_paras)

            def grams(n: int) -> Column:
                return F.when(
                    L >= n,
                    F.transform(
                        F.sequence(
                            F.lit(0), (L - n).cast("int")
                        ),
                        lambda i: F.array_join(
                            F.slice(toks, i.cast("int") + 1, n), " "
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))

            line_chars = F.aggregate(
                lines,
                F.lit(0).cast("long"),
                lambda acc, l: acc + F.length(l),
            )
            # BIND the run folds before anything reads them: each
            # _run_stats is an O(L log L) sort + O(L) interpreted
            # fold, and interpreted higher-order expressions are
            # never CSE'd — the sig ppms read 1-2 fields each and
            # the verdict cascade reads every signal again, so the
            # unbound tree re-ran each fold up to 3x (and the 13
            # verdict reads re-ran ALL of them): 29 fold evaluations
            # per row by static count instead of these 11 — the
            # unbound draft did not finish a 500 k-doc pass in 45
            # min; the bound form's walls are in SCALE.md round-13.
            core = F.struct(
                _run_stats(F.array_sort(lines)).alias("rl"),
                _run_stats(F.array_sort(paras)).alias("rp"),
                *[
                    _run_stats(F.array_sort(grams(n))).alias(f"g{n}")
                    for n in range(2, 11)
                ],
                F.array_size(lines).cast("long").alias("n_lines"),
                line_chars.alias("line_chars"),
                n_paras.alias("n_paras"),
                para_chars.alias("para_chars"),
                tot_chars.alias("tot_chars"),
            )

            def _sigs(s: Column) -> Column:
                sig = {
                    "dup_lines": _ppm(
                        s["rl"]["dup_items"], s["n_lines"]
                    ),
                    "dup_paras": _ppm(
                        s["rp"]["dup_items"], s["n_paras"]
                    ),
                    "dup_line_chars": _ppm(
                        s["rl"]["dup_chars"], s["line_chars"]
                    ),
                    "dup_para_chars": _ppm(
                        s["rp"]["dup_chars"], s["para_chars"]
                    ),
                    **{
                        f"top_{n}gram": _ppm(
                            s[f"g{n}"]["best_cnt"]
                            * s[f"g{n}"]["best_len"],
                            s["tot_chars"],
                        )
                        for n in (2, 3, 4)
                    },
                    **{
                        f"dup_{n}gram": _ppm(
                            s[f"g{n}"]["dup_chars"], s["tot_chars"]
                        )
                        for n in range(5, 11)
                    },
                }
                return F.struct(
                    *[
                        sig[name].alias(f"{name}_ppm")
                        for name in GOPHER_REP_THRESHOLDS
                    ]
                )

            def _verdict(g: Column) -> Column:
                verdict = F.lit("keep")
                for name in reversed(GOPHER_REP_THRESHOLDS):
                    verdict = F.when(
                        g[f"{name}_ppm"] > GOPHER_REP_THRESHOLDS[name],
                        F.lit(name),
                    ).otherwise(verdict)
                return F.struct(
                    *[
                        g[f"{name}_ppm"].alias(f"{name}_ppm")
                        for name in GOPHER_REP_THRESHOLDS
                    ],
                    verdict.alias("verdict"),
                )

            # second bind: the verdict cascade reads all 13 signals
            return _bind_once(
                _bind_once(core, _sigs), _verdict
            )

        return _bind_once(F.split(c, "\n"), _with_lines)

    # tokenize the COALESCED column: NULL text must read as '' on
    # every path, not only the line split — otherwise the all-zero
    # verdict for a NULL doc emerges via NULL-propagation through
    # the denominators instead of by the documented convention
    return _bind_once(tokens(c), _with_all)


def _repetition_row(text: str | None) -> list:
    """Exact per-document repetition signals — the Python twin of
    ``repetition_stats``' column expressions (same tokenizer regex,
    same floor-ppm integer math, same cascade), shared by
    ``repetition_summary``'s Arrow batches. Returns the 13 ppm values
    in GOPHER_REP_THRESHOLDS order followed by the verdict."""
    import re
    from collections import Counter

    from tinyerp_etl_spark.operators.dedup import PARA_W

    toks = re.findall(r"\w+", (text or "").lower(), re.ASCII)
    lines = (text or "").split("\n")
    L = len(toks)
    w = PARA_W
    tok_len = sum(map(len, toks))
    tot_chars = tok_len + max(L - 1, 0)
    n_paras = (L + w - 1) // w
    para_chars = tok_len + (L - n_paras)
    line_chars = sum(map(len, lines))

    def ppm(num: int, den: int) -> int:
        return (num * 1_000_000) // den if den > 0 else 0

    def dup(counts: Counter) -> tuple[int, int]:
        return (
            sum(n for n in counts.values() if n >= 2),
            sum(n * len(s) for s, n in counts.items() if n >= 2),
        )

    sig: dict[str, int] = {}
    di, dc = dup(Counter(lines))
    sig["dup_lines"] = ppm(di, len(lines))
    sig["dup_line_chars"] = ppm(dc, line_chars)
    di, dc = dup(
        Counter(
            " ".join(toks[j * w:(j + 1) * w]) for j in range(n_paras)
        )
    )
    sig["dup_paras"] = ppm(di, n_paras)
    sig["dup_para_chars"] = ppm(dc, para_chars)
    for n in (2, 3, 4):
        c = (
            Counter(
                " ".join(toks[i:i + n]) for i in range(L - n + 1)
            )
            if L >= n
            else Counter()
        )
        bc, bl = max(
            ((v, len(k)) for k, v in c.items()), default=(0, 0)
        )
        sig[f"top_{n}gram"] = ppm(bc * bl, tot_chars)
    for n in range(5, 11):
        c = (
            Counter(
                " ".join(toks[i:i + n]) for i in range(L - n + 1)
            )
            if L >= n
            else Counter()
        )
        sig[f"dup_{n}gram"] = ppm(
            sum(v * len(k) for k, v in c.items() if v >= 2), tot_chars
        )
    verdict = "keep"
    for name, thr in GOPHER_REP_THRESHOLDS.items():
        if sig[name] > thr:
            verdict = name
            break
    return [sig[name] for name in GOPHER_REP_THRESHOLDS] + [verdict]


def _arrow_doc_audit(docs, id_col, text_col, fields, row_fn):
    """Shared mapInPandas scaffolding for per-document Arrow audits
    (repetition_summary, nfc_audit_summary): long id column + the
    audit fields, one pd.DataFrame per Arrow batch built by ``row_fn``
    over (id, text) pairs. One map-side pass, no shuffle; extracted so
    a fix to the batching/casting applies everywhere (review finding:
    three near-verbatim copies had accreted in this file — tfidf's tf
    pass keeps its own shape, it batches term ROWS not doc rows)."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField(id_col, T.LongType())] + list(fields)
    )
    names = [f.name for f in schema.fields]

    def batches(it):
        for pdf in it:
            yield pd.DataFrame(
                [
                    [did] + row_fn(t)
                    for did, t in zip(pdf[id_col], pdf[text_col])
                ],
                columns=names,
            )

    return docs.select(
        F.col(id_col).cast("long").alias(id_col), text_col
    ).mapInPandas(batches, schema=schema)


def repetition_summary(
    docs, text_col: str = "text", id_col: str = "doc_id"
):
    """Per-document Gopher A1.2 repetition signals + verdict as a
    DataFrame — the Arrow face of ``repetition_stats`` and the one
    production uses (the tfidf precedent, repeated and re-measured):
    the column face's eleven array_sort + run-length folds are
    INTERPRETED expressions, and at 10x (50 k docs, forced) they cost
    61.1 s where this mapInPandas pass costs 11.9 s — 5.1x — because a
    Counter per granularity is O(L) with no sorts, no per-slice array
    allocation, and Arrow batches amortize the Python boundary. Both
    faces share the exact integer definitions (equivalence pinned by
    test on the trigger corpus + generated docs; the column face is
    the semantic reference the property test drives). Plan shape is
    identical: one map-side pass, no shuffle, nothing leaves its row.
    """
    from pyspark.sql import types as T

    fields = [
        T.StructField(f"{name}_ppm", T.LongType())
        for name in GOPHER_REP_THRESHOLDS
    ] + [T.StructField("verdict", T.StringType())]
    return _arrow_doc_audit(docs, id_col, text_col, fields, _repetition_row)


def _nfc_row(text: str | None) -> list:
    """Exact per-document NFC audit — codepoint counts before/after
    Unicode NFC, the already-normalized flag, and the md5 of the
    NORMALIZED utf-8 bytes (the canonical fingerprint two
    composition-variant copies of one document share). NULL text
    reads as '' (the line_dedup_summary convention). The DuckDB
    oracle recomputes all four with its own independent NFC
    (nfc_normalize) and md5 — a genuine cross-implementation check
    of the Unicode normalization itself."""
    import hashlib
    import unicodedata

    s = text or ""
    n = unicodedata.normalize("NFC", s)
    return [
        len(s),
        len(n),
        1 if n == s else 0,
        hashlib.md5(n.encode("utf-8")).hexdigest(),
    ]


def nfc_audit_summary(docs, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document Unicode NFC normalization audit as a DataFrame:
    ``(id, n_chars, n_chars_nfc, is_nfc, nfc_md5)``.

    The text-pipeline step that runs BEFORE any hash-based dedup: the
    same visible document arrives from different sources in composed
    ('é') and decomposed ('e' + U+0301) forms, and every exact/MinHash
    fingerprint in this engine hashes bytes — without canonicalization
    those copies can never dedup. ``nfc_md5`` is the canonical
    fingerprint; ``is_nfc``/char deltas are the audit counters a crawl
    health dashboard tracks. One Arrow-batched map-side pass
    (mapInPandas — Unicode normalization tables are not expressible in
    built-in column functions), no shuffle, nothing leaves its row;
    at 100 TB this is scan-bound like every other per-doc audit.
    """
    from pyspark.sql import types as T

    fields = [
        T.StructField("n_chars", T.LongType()),
        T.StructField("n_chars_nfc", T.LongType()),
        T.StructField("is_nfc", T.LongType()),
        T.StructField("nfc_md5", T.StringType()),
    ]
    return _arrow_doc_audit(docs, id_col, text_col, fields, _nfc_row)


def lang_id(col: Column | str) -> Column:
    """Argmax language guess over the marker families.

    Ties break by language code ascending; zero evidence → 'unknown'.
    Score per language = 1000 x distinct marker words present +
    marker word occurrences (unchanged since round 11 — the oracle
    SQL replays this formula verbatim). Pure integer comparisons ⇒
    engine-portable.

    Execution shape (round-13 rewrite, the measured A/B): tokens are
    FILTERED to markers with one literal-map lookup per token, then
    ONE multi-hot aggregate over the (tiny) hit array accumulates all
    five languages' occurrence counts at once, one more over its
    distinct for the 1000x bonus — a marker map is needed, not
    per-language arrays, because markers are SHARED across languages
    ('de' scores both es and zh). The previous form scored each
    language separately (5 families x 2 array passes, each pass
    running array_contains per token) and degraded superlinearly
    under memory pressure: at 100x (500 k docs) the confusion
    aggregation took 221 s vs 17 s for this shape (13x, identical
    matrices — SCALE.md round-13). Argmax = array_position of
    array_max over the score array (first position == ascending
    language code, the same tie-break). The tokenizer and the score
    array are each bound once per row (dedup._bind_once).
    """
    from tinyerp_etl_spark.operators.dedup import _bind_once

    langs = sorted(LANG_MARKERS)
    zeros = F.array(*[F.lit(0).cast("long") for _ in langs])
    map_pairs: list[Column] = []
    for m in sorted({w for ws in LANG_MARKERS.values() for w in ws}):
        inc = [1 if m in LANG_MARKERS[lang] else 0 for lang in langs]
        map_pairs.append(F.lit(m))
        map_pairs.append(
            F.array(*[F.lit(v).cast("long") for v in inc])
        )
    marker_map = F.create_map(*map_pairs)

    def _scored(toks: Column) -> Column:
        hits = F.filter(
            toks, lambda t: F.map_contains_key(marker_map, t)
        )

        def _acc(arr: Column) -> Column:
            return F.aggregate(
                arr,
                zeros,
                lambda acc, t: F.zip_with(
                    acc,
                    F.element_at(marker_map, t),
                    lambda a, b: a + b,
                ),
            )

        return _bind_once(
            F.zip_with(
                _acc(F.array_distinct(hits)),
                _acc(hits),
                lambda d, c: d * 1000 + c,
            ),
            lambda scores: F.when(
                F.array_max(scores) > 0,
                F.element_at(
                    F.array(*[F.lit(lang) for lang in langs]),
                    F.array_position(
                        scores, F.array_max(scores)
                    ).cast("int"),
                ),
            ).otherwise(F.lit("unknown")),
        )

    return _bind_once(tokens(col), _scored)


def tfidf(docs, text_col: str = "text", id_col: str = "doc_id",
          report_filter=None):
    """Per-(doc, token) tf-idf over the corpus.

    tf is computed per document in one Arrow-batched mapInPandas pass
    (a Counter per doc — no token explode, no (doc, token) shuffle;
    the Python tokenizer replicates the ``\\w+``-lowercase column
    expression exactly, as the oracle parity proves). The only
    remaining shuffle is df-by-token — irreducible, since document
    frequency is corpus-global. N rides as a 1-row broadcast.

    ``report_filter`` (optimization round 14, guide §2.3): when the
    caller only REPORTS a filtered subset of documents (a Column
    predicate over ``docs``), pass the predicate instead of filtering
    the output. Document frequency and N still come from the FULL
    corpus (the statistics are corpus-global by definition), but the
    per-(doc, token) tf rows are built only for the reported docs,
    and — the scale lever — df is computed by a dedicated full-corpus
    pass that aggregates distinct tokens per Arrow batch in Python
    and map-side-combines per token in the JVM, so the shuffle
    carries ≈|vocabulary| partial rows per partition instead of every
    (doc, token) row of the corpus through the window sort the
    unfiltered path needs. Output rows and values are identical to
    ``tfidf(docs).filter(report_filter-on-doc)``.

    The score is rounded to 6 decimals: Spark's and DuckDB's ``ln``
    differ in the final ULP for ~13% of inputs (measured), and the
    differential gate compares exact bits — rounding makes the value
    engine-portable while keeping full ranking fidelity.
    """
    import re
    from collections import Counter

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    tok_re = re.compile(r"\w+", re.ASCII)  # match Java/RE2 ASCII \w of the column-expression twin and DuckDB oracle

    def tf_batches(batches):
        for pdf in batches:
            ids, toks, tfs = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                for token, n in Counter(tok_re.findall((text or "").lower())).items():
                    ids.append(did)
                    toks.append(token)
                    tfs.append(n)
            yield pd.DataFrame({id_col: ids, "token": toks, "tf": tfs})

    tf_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("token", T.StringType()),
            T.StructField("tf", T.LongType()),
        ]
    )
    from pyspark.sql.window import Window

    n = docs.agg(F.count(F.lit(1)).alias("__n"))
    if report_filter is None:
        tf = docs.select(F.col(id_col).cast("long"), text_col).mapInPandas(
            tf_batches, schema=tf_schema
        )
        # document frequency as a window count over the same token
        # shuffle the join formulation would need anyway — but with
        # ONE pass: the groupBy+join alternative executes the Python
        # tokenizer stage twice (once per branch) and adds a second
        # token shuffle.
        dfreq_w = Window.partitionBy("token")
        scored = tf.withColumn("df", F.count(F.lit(1)).over(dfreq_w))
    else:
        # reported-subset shape: tf rows only for the reported docs;
        # df from a full-corpus pass that ships (token, batch-count)
        # partials — Counter-of-distinct-tokens per Arrow batch in
        # Python, summed per token in the JVM (partial aggregation
        # collapses before the exchange), joined back onto the small
        # tf side. The full corpus text crosses the Python boundary
        # once either way; what changes is the shuffle: vocabulary
        # partials instead of every (doc, token) row + a window sort.
        def df_batches(batches):
            for pdf in batches:
                c = Counter()
                for text in pdf[text_col]:
                    c.update(set(tok_re.findall((text or "").lower())))
                yield pd.DataFrame(
                    {"token": list(c.keys()), "df_part": list(c.values())}
                )

        df_schema = T.StructType(
            [
                T.StructField("token", T.StringType()),
                T.StructField("df_part", T.LongType()),
            ]
        )
        dfreq = (
            docs.select(text_col)
            .mapInPandas(df_batches, schema=df_schema)
            .groupBy("token")
            .agg(F.sum("df_part").cast("long").alias("df"))
        )
        tf = (
            docs.filter(report_filter)
            .select(F.col(id_col).cast("long"), text_col)
            .mapInPandas(tf_batches, schema=tf_schema)
        )
        scored = tf.join(dfreq, "token")
    return (
        scored
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("__n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )


def chunk_documents(
    docs,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Split documents into overlapping fixed-token chunks.

    The LLM-training preprocessing step: each doc becomes
    ceil(max(n - overlap, 1) / stride) chunks of ``chunk_tokens``
    tokens with ``overlap`` tokens shared between neighbors. Pure
    map-side: tokenize → sequence of chunk starts → explode → slice.
    No shuffle; at 100 TB this is a streaming-friendly projection.
    """
    from pyspark.sql import functions as F

    stride = chunk_tokens - overlap
    toks = tokens(text_col)
    n = F.array_size(toks)
    starts = F.sequence(
        F.lit(1),
        F.greatest(n - F.lit(overlap), F.lit(1)),
        F.lit(stride),
    )
    return (
        docs.select(F.col(id_col), toks.alias("__toks"), starts.alias("__starts"))
        .select(
            id_col,
            F.posexplode("__starts").alias("chunk_id", "start"),
            F.col("__toks"),
        )
        .select(
            id_col,
            "chunk_id",
            F.concat_ws(" ", F.slice("__toks", F.col("start"), chunk_tokens)).alias(
                "chunk_text"
            ),
            F.least(
                F.array_size("__toks") - F.col("start") + 1, F.lit(chunk_tokens)
            ).cast("int").alias("n_tokens"),
        )
    )


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 of the normalized token stream.

    Normalization = lowercase, word tokens, single-space joined — so
    whitespace/punctuation variants collapse to the same fingerprint
    (the document-identity key for exact dedup).
    """
    return F.md5(F.concat_ws(" ", tokens(col)))


WINNOW_KGRAM = 8  # character k-gram width
WINNOW_WINDOW = 4  # sliding window of consecutive k-gram hashes
WINNOW_PREFIX = 512  # chars fingerprinted (bounds expression cost; a
#                      production run would use the pandas kernel path)


def winnow_fingerprints(col: Column | str) -> Column:
    """Winnowing fingerprints: sliding-window minima of k-gram hashes.

    The rolling-hash document-fingerprinting scheme (MOSS-style): hash
    every character k-gram, slide a window of ``WINNOW_WINDOW``
    consecutive hashes, keep each window's minimum, dedupe. Two docs
    sharing a sufficiently long substring necessarily share a
    fingerprint — the guarantee plain whole-doc hashing can't give.
    Pure (interpreted) array expressions over the document prefix, with
    an exactly-equivalent DuckDB formulation.

    The k-gram hash array is BOUND (dedup._bind_once) before the
    window pass reads it: interpreted higher-order expressions are
    never CSE'd, so the unbound form re-ran the full ~509-element
    md5 transform inside EVERY one of the ~506 window slices —
    ~257k md5+conv evaluations per row instead of 509. Same values
    (oracle parity re-proven at sf0.001/sf0.01), measured 181x at
    sf0.1 (145 -> 0.80 s forced; SCALE.md round-14).
    """
    from tinyerp_etl_spark.operators.dedup import _bind_once

    c = F.col(col) if isinstance(col, str) else col
    text = F.substring(c, 1, WINNOW_PREFIX)
    n_grams = F.greatest(F.length(text) - (WINNOW_KGRAM - 1), F.lit(0))
    n_windows = F.greatest(n_grams - (WINNOW_WINDOW - 1), F.lit(0))
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
        lambda i: token_hash32(text.substr(i, F.lit(WINNOW_KGRAM))),
    )

    def _with_hashes(h: Column) -> Column:
        winnowed = F.transform(
            F.sequence(F.lit(1), F.greatest(n_windows, F.lit(1))),
            lambda j: F.array_min(F.slice(h, j, WINNOW_WINDOW)),
        )
        return F.when(
            n_windows >= 1, F.array_sort(F.array_distinct(winnowed))
        ).otherwise(F.array().cast("array<long>"))

    return _bind_once(hashes, _with_hashes)


def token_hash32(col: Column) -> Column:
    """Deterministic 32-bit integer hash of a token.

    First 8 hex chars of md5, parsed as an integer — chosen because
    both Spark (conv) and DuckDB (0x-cast) can compute it identically;
    murmur3 ``F.hash`` would be Spark-only.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def ngram_repetition(col: Column | str, n: int) -> dict[str, Column]:
    """Within-document n-gram repetition (the Gopher-style signal).

    ``dup_fraction`` = 1 − distinct/total word n-grams: near 0 for
    natural text, approaching 1 for degenerate repetition — the
    quality filter large-corpus pipelines apply before training.
    Pure array expressions; guarded so docs with < n tokens report 0
    grams and fraction 0.0 (Spark's sequence(1, 0) would descend).

    Every stat — including the fraction — is computed INSIDE one
    bound chain (optimization round 14, guide §4 / the winnowing 181x
    precedent: Catalyst does not CSE through higher-order functions,
    so the previous unbound ``slice(tokens(col), i, n)`` re-ran the
    regex tokenizer at EVERY n-gram position — O(tokens) tokenizer
    evaluations per doc per granularity; measured 19 s warm at sf0.1
    for the two-granularity profile query, ~13x slower than the bound
    form). Callers that need several stats should evaluate
    ``ngram_repetition_struct`` once (each dict entry here is an
    independent copy of the bound chain — one tokenizer run per
    referenced column).
    """
    s = ngram_repetition_struct(col, n)
    return {
        "n_grams": s["n_grams"],
        "n_distinct": s["n_distinct"],
        "dup_fraction": s["dup_fraction"],
    }


def ngram_repetition_struct(col: Column | str, n: int) -> Column:
    """``struct(n_grams, n_distinct, dup_fraction)`` of within-doc
    word-n-gram repetition, fully computed inside one per-row binding
    — tokenizer once, gram array once, the (count, distinct) pair
    once, the fraction derived from the bound pair. Project this
    struct ONCE per row and extract fields in an outer select (see
    ``ngram_repetition``'s caveat)."""
    from tinyerp_etl_spark.operators.dedup import _bind_once, _ngrams_of

    def _stats(grams: Column) -> Column:
        return _bind_once(
            F.struct(
                F.array_size(grams).alias("c"),
                F.array_size(F.array_distinct(grams)).alias("d"),
            ),
            lambda cd: F.struct(
                cd["c"].alias("n_grams"),
                cd["d"].alias("n_distinct"),
                F.when(
                    cd["c"] > 0,
                    F.lit(1.0)
                    - cd["d"].cast("double") / cd["c"].cast("double"),
                )
                .otherwise(F.lit(0.0))
                .alias("dup_fraction"),
            ),
        )

    return _bind_once(
        tokens(col),
        lambda toks: _bind_once(_ngrams_of(toks, n), _stats),
    )


#: PII patterns, restricted to the regex subset Java (Spark) and RE2
#: (DuckDB) evaluate identically — character classes and bounded
#: repetition only, no lookarounds.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{2} [0-9]{2} [0-9]{4,5}-[0-9]{4}"


def redact_pii(col: Column | str) -> Column:
    """Replace emails and phone numbers with typed placeholders.

    The pre-training scrub step of a text pipeline: every email
    becomes ``<EMAIL>`` and every +CC-format phone ``<PHONE>``.
    Pure JVM-side regexp_replace — whole-stage-codegen'd, no UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    scrubbed = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(scrubbed, PII_PHONE_RE, "<PHONE>")


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-document counts of each PII class (audit columns)."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        "n_emails": F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), 0)),
        "n_phones": F.size(F.regexp_extract_all(c, F.lit(PII_PHONE_RE), 0)),
    }


def unigram_surprisal(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc mean token surprisal in integer BITS — the float-free
    version of CCNet-style LM-perplexity filtering.

    rarity(tok) = bit_length(total_tokens // count(tok)), an integer
    ≈ -log2 p(tok) (both engines compute it as length(bin(x)), so no
    transcendental function ever decides a score). Docs whose mean
    rarity is very low are boilerplate (all ultra-common tokens);
    very high means gibberish/rare-token noise — the same two tails a
    real perplexity filter cuts.

    Plan: one explode, token frequencies as a window over the single
    token shuffle (the tfidf pattern — no second join), corpus total
    broadcast from a 1-row aggregate, then one per-doc aggregation.
    Zero-token docs have no token rows and are absent from the output
    by construction.
    """
    from pyspark.sql.window import Window

    toks = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    # corpus total WITHOUT a second tokenize+explode pass: sum of
    # per-doc token counts over the un-exploded frame
    total = docs.agg(
        F.sum(token_count(text_col).cast("long")).alias("n_corpus")
    )
    rated = (
        toks.crossJoin(F.broadcast(total))
        .withColumn(
            "cnt", F.count(F.lit(1)).over(Window.partitionBy("token"))
        )
        .withColumn(
            "bits", F.length(F.bin(F.expr("n_corpus div cnt"))).cast("long")
        )
    )
    return rated.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tok"),
        F.sum("bits").cast("long").alias("sum_bits"),
    )


#: BM25i term-frequency saturation cap (the k1 role, integerized).
BM25I_TF_CAP = 5
#: BM25i length-normalization scale (the b role, integerized).
BM25I_NORM_SCALE = 1000


def bm25i_topk(
    docs,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Integer BM25-flavor ranked retrieval: top-k docs for a bag of
    query terms, float-free so the ranking is bit-identical on any
    engine and any partitioning.

    Classic BM25 needs ln(N/df) and float length normalization — and
    cross-engine ln differs in ulps, which under a hash gate means
    flapping ranks. BM25i keeps the three BM25 ingredients but in
    exact integer space (the unigram_surprisal trick, generalized):

      idf   -> bit_length(N div df)   (integer log2; rare terms score
                                       high, ubiquitous terms -> 1)
      tf    -> least(tf, 5)           (saturation: k1's job)
      norm  -> (2000 * raw) div (1000 + (1000 * dl * N) div total_len)
                                      (docs longer than average are
                                       damped toward 2/3, shorter
                                       boosted toward 2x: b's job)

    Plan shape: the tokenized frame is checkpointed ONCE (both the
    corpus-stats aggregate and the tf branch hang off it — without
    the checkpoint each branch would re-run the tokenizer scan, the
    most expensive stage at 100 TB); the term filter lands BEFORE the
    tf aggregation (query terms are literals, so only matching tokens
    ever shuffle); df and the corpus stats are tiny broadcast frames;
    top-k is a TakeOrdered with a deterministic (score DESC, id ASC)
    tie-break. One token shuffle, one tokenizer pass — and with a
    pre-built (token -> doc) index table the same scoring expression
    runs over the index instead.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = list(query_terms)
    # ONE tokenizer pass, checkpointed: the stats aggregate and the tf
    # branch both hang off this frame, and what gets materialized is
    # only (id, doc_len, query-term tokens) — the full token arrays
    # are filtered away BEFORE the checkpoint, so the materialized
    # footprint is ids + one long + the (few) matching tokens per doc,
    # not the tokenized corpus
    base = (
        docs.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            F.col(id_col),
            F.array_size("__toks").cast("long").alias("__dl"),
            F.filter(
                "__toks", lambda t: t.isin(terms)
            ).alias("__qtoks"),
        )
    )
    base = materialize(base)
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("__n_docs"),
        F.sum("__dl").cast("long").alias("__total_len"),
    )
    tf = (
        base.select(F.col(id_col), "__dl", F.explode("__qtoks").alias("token"))
        .groupBy(id_col, "__dl", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("__tf"))
    )
    dfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("__df")
    )
    raw = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__bits", F.length(F.bin(F.expr("__n_docs div __df"))).cast("long")
        )
        .groupBy(id_col, "__dl", "__n_docs", "__total_len")
        .agg(
            F.sum(
                F.col("__bits") * F.least(F.col("__tf"), F.lit(BM25I_TF_CAP))
            ).alias("__raw")
        )
    )
    scored = raw.select(
        F.col(id_col),
        F.expr(
            "(2000 * __raw) div "
            "(1000 + (1000 * __dl * __n_docs) div __total_len)"
        ).cast("long").alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


# ---------------------------------------------------------------- BPE
#
# Deterministic byte-pair-encoding merge training — tokenizer vocab
# induction, the one corpus-scale tokenizer op the engine was missing.
# The classic BPE trainer property (the reason single-node tokenizer
# trainers work on web-scale corpora) is that only the WORD FREQUENCY
# extraction touches the corpus; the merge iterations run on the
# word-count table, which is bounded by the vocabulary, not the corpus.
# The engine keeps that split: one map-side-combinable groupBy over
# the corpus, a deterministic (freq DESC, word ASC) vocab cap, then
# control-plane training over the collected counts (same pattern as
# the k-means centroid collects — k rows per iteration, never the
# corpus).
#
# Determinism rules (mirrored exactly by the DuckDB oracle, which
# unrolls the same iterations in SQL):
# - pair counts are per adjacent POSITION (freq-weighted), computed on
#   the current symbol sequences;
# - best pair = max count, ties to the lexicographically smallest
#   (left, right);
# - merging rewrites the space-joined symbol string via non-overlapping
#   left-to-right replace of ' l r ' with ' lr ' — str.replace and SQL
#   replace share these semantics, which is what makes the unrolled
#   oracle exact. (A shared-boundary run like 'a a a' merges once per
#   pass under this rule; documented encoding quirk, identical in both
#   engines.)

BPE_N_MERGES = 8
BPE_VOCAB_CAP = 4096


def bpe_train(
    word_freqs: list[tuple[str, int]], n_merges: int = BPE_N_MERGES
) -> list[tuple[int, str, str, str, int]]:
    """Train merge rules on a (word, freq) table.

    Returns [(merge_idx, left_sym, right_sym, merged, pair_count)].
    Pure control-plane: input size is capped by the caller
    (BPE_VOCAB_CAP), so this never sees corpus-scale data.
    """
    seqs = {w: " " + " ".join(w) + " " for w, _ in word_freqs}
    freqs = dict(word_freqs)
    merges: list[tuple[int, str, str, str, int]] = []
    for it in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, s in seqs.items():
            syms = s.split()
            f = freqs[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        pat, rep = f" {left} {right} ", f" {left}{right} "
        seqs = {w: s.replace(pat, rep) for w, s in seqs.items()}
        merges.append((it, left, right, left + right, cnt))
    return merges


# ---------------------------------------------------- HTML extraction
#: Regexes restricted to the Java/RE2-identical subset (inline (?s)/
#: (?i) flags, non-greedy, character classes — no backreferences, no
#: lookarounds, and NO bare \s or $: Java's \s includes \x0B where
#: RE2's does not, and Java's $ matches before a final newline where
#: RE2's matches end-of-text only, so whitespace is the explicit
#: Java-\s class and trailing anchors are \z / (?s).* — both spelled
#: identically in both engines): script/style blocks and comments
#: drop WITH their content; structural closers become hard breaks;
#: every remaining tag strips to a space.
WS_RE = r"[ \t\n\x0B\f\r]+"
HTML_HEAD_RE = r"(?is)<head[^>]*>.*?</head>"
HTML_SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
HTML_STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
HTML_COMMENT_RE = r"(?s)<!--.*?-->"
HTML_BREAK_RE = r"(?i)</(?:p|div|li|tr|h[1-6])>|<br[^>]*>"
HTML_TAG_RE = r"(?s)<[^>]*>"
HTML_TITLE_RE = r"(?is)<title>(.*?)</title>"
#: href value in any of the three HTML spellings — double-quoted,
#: single-quoted, or unquoted (common in real crawls; the unquoted
#: form ends at whitespace/quote/=/</>/backtick per the HTML spec).
#: Group 1 captures the value WITH its quotes (neither engine supports
#: branch-reset groups, so one group per alternative can't share an
#: index); ``html_links`` strips the surrounding quote pair after
#: extraction. Lowercase ``href=`` only, by design (the tag-level
#: subset is lowercase-HTML; case-insensitivity is the caller's
#: pre-lowering choice, pinned by test).
HTML_HREF_RE = (
    "href[ \\t\\n\\x0B\\f\\r]*=[ \\t\\n\\x0B\\f\\r]*"
    "('[^']+'|\"[^\"]+\"|[^ \\t\\n\\x0B\\f\\r\"'=<>`]+)"
)

#: Entity decode pairs, applied AFTER tag stripping (decoding first
#: would turn &lt;script&gt; into live markup); &amp; decodes LAST so
#: double-encoded entities cannot cascade.
HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def html_to_text(col: Column | str) -> Column:
    """Visible text of an HTML payload — the FIRST step of every
    web-corpus pipeline (the trafilatura/jusText role, restricted to
    the deterministic tag-level subset both engines compute
    identically; statistical boilerplate removal is the downstream
    paragraph/boilerplate operators' job). Drop script/style/comments
    with their content, break on structural closers, strip remaining
    tags, decode the common entities, collapse whitespace. The whole
    <head> drops with its content first (title/meta are metadata —
    ``html_title`` reads them separately — and body text must not
    inherit them); body-level script/style/comments drop next. Pure
    JVM-side regexp_replace chain — whole-stage codegen, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    for pat in (HTML_HEAD_RE, HTML_SCRIPT_RE, HTML_STYLE_RE, HTML_COMMENT_RE):
        c = F.regexp_replace(c, pat, " ")
    c = F.regexp_replace(c, HTML_BREAK_RE, "\n")
    c = F.regexp_replace(c, HTML_TAG_RE, " ")
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, WS_RE, " "))


def html_title(col: Column | str) -> Column:
    """<title> text ('' when absent), whitespace-normalized."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(F.regexp_extract(c, HTML_TITLE_RE, 1), WS_RE, " ")
    )


def html_links(col: Column | str) -> Column:
    """href targets as an array (the outlink column a crawl-graph or
    URL-filter stage consumes). Double-quoted, single-quoted, and
    unquoted attribute spellings all match (HTML_HREF_RE); a quoted
    match carries its quote pair out of the single capture group, so
    the pair is stripped here — an unquoted value cannot contain a
    quote, so the anchored strip never eats value bytes."""
    c = F.col(col) if isinstance(col, str) else col
    raw = F.regexp_extract_all(c, F.lit(HTML_HREF_RE), 1)
    return F.transform(
        raw, lambda x: F.regexp_replace(x, "^[\"']|[\"']\\z", "")
    )


# --------------------------------------------------- URL normalization
#: tracking params dropped during normalization (the CCNet/FineWeb
#: URL-dedup convention: these vary per click, never per page)
URL_TRACKING_PREFIXES = ("utm_", "fbclid", "gclid", "ref=")

_URL_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_URL_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_URL_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
_URL_QUERY_RE = r"\?([^#]*)"


def normalize_url(col: Column | str) -> Column:
    """Canonical form of a URL — the key URL-level dedup joins on
    (one crawl of a page arrives under many spellings; CCNet/FineWeb
    dedupe by normalized URL before any content pass). Deterministic,
    engine-portable steps: drop the fragment; lowercase scheme and
    host; strip a leading ``www.`` and the scheme's default port;
    strip trailing slashes from the path; drop a userinfo segment
    (``user:pw@`` — credentials are not page identity, and leaving it
    would also lowercase it into a host that never matches its bare
    twin); drop tracking params (``URL_TRACKING_PREFIXES``) and empty
    params, SORT the rest (the order a browser sends is not part of
    page identity). Percent-encoding case (``%2F`` vs ``%2f``) is OUT
    OF SCOPE: both spellings pass through as-is, so a pair differing
    only there stays distinct — decoding safely needs a reserved-set
    table, not a case fold. Strings without a ``scheme://`` pass
    through trimmed — callers dedupe relative links at their own
    risk. Pure codegen expressions."""
    c0 = F.col(col) if isinstance(col, str) else col
    # trim() strips spaces only: strip the full (Java-\s) whitespace
    # class from both ends so a trailing newline/tab cannot leak into
    # the canonical form (same spelling in the oracle)
    u0 = F.regexp_replace(
        c0, r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+\z", ""
    )
    u = F.regexp_replace(u0, r"(?s)#.*", "")
    scheme = F.lower(F.regexp_extract(u, _URL_SCHEME_RE, 1))
    host0 = F.lower(F.regexp_extract(u, _URL_HOST_RE, 1))
    # the authority component is userinfo@host:port — drop userinfo
    # BEFORE the www/port rules so they see the real host. WHATWG URL
    # parsing splits the authority at the LAST '@' (a raw '@' inside
    # a password is common in dirty crawl data), and host0 cannot
    # contain '/', so the greedy ^[^/]*@ strips exactly to the last @
    host1 = F.regexp_replace(
        F.regexp_replace(host0, "^[^/]*@", ""), r"^www\.", ""
    )
    host = F.when(
        (scheme == "http") & host1.endswith(":80"),
        F.regexp_replace(host1, r":80\z", ""),
    ).when(
        (scheme == "https") & host1.endswith(":443"),
        F.regexp_replace(host1, r":443\z", ""),
    ).otherwise(host1)
    path = F.regexp_replace(
        F.regexp_extract(u, _URL_PATH_RE, 1), r"/+\z", ""
    )
    qs = F.regexp_extract(u, _URL_QUERY_RE, 1)
    def _keep_param(x):
        cond = x != ""
        for pref in URL_TRACKING_PREFIXES:
            cond = cond & ~x.startswith(pref)
        return cond

    keep = F.array_join(
        F.array_sort(F.filter(F.split(qs, "&"), _keep_param)), "&"
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(keep != "", F.concat(F.lit("?"), keep)).otherwise(F.lit("")),
    )
    return F.when(scheme != "", canon).otherwise(u0)


# --------------------------------------------- domain blocklist filter
def domain_suffixes(col: Column | str) -> Column:
    """All label-boundary suffixes of a hostname, most-specific first:
    ``a.ads.example.com`` → ``[a.ads.example.com, ads.example.com,
    example.com, com]``. The candidate set a UT1-style domain
    blocklist is probed with — a hostname is blocked iff ANY of its
    suffixes is listed, and suffix generation on LABEL boundaries is
    what keeps ``notads.example.com`` from matching a listed
    ``ads.example.com`` (the classic substring-match bug). The label
    array is bound once per row (dedup._bind_once — Catalyst does not
    CSE through higher-order functions), then each suffix is a
    slice+join over the bound array: one interpreted pass over ≤~6
    tiny elements per row, no shuffle, no UDF. NULL hostname → empty
    array (no candidates, never blocked)."""
    from tinyerp_etl_spark.operators.dedup import _bind_once

    c = F.col(col) if isinstance(col, str) else col
    return _bind_once(
        F.split(F.coalesce(c, F.lit("")), r"\."),
        lambda labels: F.filter(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.array_size(labels), F.lit(1))),
                lambda i: F.array_join(
                    F.slice(labels, i, F.array_size(labels) - i + 1), "."
                ),
            ),
            lambda s: s != "",
        ),
    )


def blocklist_verdicts(
    hosts, bl, host_col: str = "hostname", id_col: str = "doc_id"
):
    """Per-host UT1-style blocklist verdicts: ``blocked`` iff any
    label-boundary suffix of ``host_col`` appears in the blocklist
    frame ``bl`` (columns ``domain``, ``category``), with the LONGEST
    matching suffix winning the ``matched_domain``/``category``
    attribution (nested entries like ``evil.net`` + ``b.evil.net``
    resolve to the most specific). One explode over
    ``domain_suffixes`` (≤~6 tiny rows per host), a broadcast left
    join against the blocklist dim, and a conditional max-struct
    aggregate keyed on (id, host) — the map-side partial max shrinks
    the exploded rows back to one per host before the only shuffle,
    and unblocked hosts ride the same aggregate (no second corpus
    join). The explode is OUTER: a NULL/empty hostname has no suffix
    candidates but must still surface as an unblocked row, not
    silently vanish from the verdict frame (dirty crawl data has
    NULL hosts; a filter that drops rows it cannot judge corrupts
    downstream counts). At 100 TB the blocklist (UT1 ≈ 4M rows ≈
    tens of MB) broadcasts; everything else is one narrow keyed
    pass."""
    cand = hosts.select(
        id_col,
        host_col,
        F.explode_outer(domain_suffixes(host_col)).alias("suffix"),
    )
    hit = F.when(
        F.col("domain").isNotNull(),
        F.struct(
            F.length("suffix").alias("l"),
            F.col("suffix").alias("s"),
            F.col("category").alias("c"),
        ),
    )
    return (
        cand.join(F.broadcast(bl), cand.suffix == bl.domain, "left")
        .groupBy(id_col, host_col)
        .agg(F.max(hit).alias("m"))
        .select(
            id_col,
            host_col,
            F.col("m").isNotNull().alias("blocked"),
            F.col("m.s").alias("matched_domain"),
            F.col("m.c").alias("category"),
        )
    )


# ------------------------------------------- C4 line-level cleaning
#: C4's terminal-punctuation rule (Raffel et al. 2020 §2.2): a line
#: is retained only if it ends in a period, exclamation mark,
#: question mark, or end-quotation mark (checked as the LAST
#: CHARACTER of the right-trimmed line — an explicit substring test,
#: not a '$'-anchored regex, because Java's '$' matches before a
#: trailing \r/NEL/U+2028 while RE2's does not, and that divergence
#: would silently split the engines on CRLF data; a blank line drops
#: here, by this first rule).
C4_LINE_TERMINAL_CHARS = ('.', '!', '?', '"')
#: the explicit Java-\s whitespace class, spelled out so Spark,
#: DuckDB (RE2) and the Python test model tokenize words
#: byte-identically (Java \s includes \x0B; RE2's does not)
C4_WS_CLASS = r"[ \t\n\x0B\f\r]+"
#: C4's minimum words-per-line
C4_LINE_MIN_WORDS = 5
#: kept-line floor standing in for C4's "at least 3 sentences" page
#: rule (line-level proxy, documented deviation: sentences ≈ kept
#: lines under the terminal-punctuation rule)
C4_MIN_KEPT_LINES = 3


def c4_line_stats(col: Column | str) -> Column:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2) as ONE bound
    struct over the line array: per-line first-failing-rule counts
    (no terminal punctuation → fewer than 5 words → contains
    'javascript'), the kept-line count, and the byte-exact ordered
    reassembly of the kept lines (the cleaned page). Doc-level rules
    (lorem ipsum / '{' / too-few-kept-lines) live in the caller —
    they read the raw text and this struct. The line array is split
    once and bound once (dedup._bind_once); every count is a
    size(filter(...)) over the bound array, so the whole operator is
    a single map-side projection — zero shuffles, zero UDFs, full
    lambda pipeline in both engines (DuckDB mirrors with
    list_filter). NULL text reads as '' (one blank line, dropped by
    the punctuation rule)."""
    from tinyerp_etl_spark.operators.dedup import _bind_once

    c = F.col(col) if isinstance(col, str) else col

    def _p_punct(l):
        return F.substring(F.rtrim(l), -1, 1).isin(*C4_LINE_TERMINAL_CHARS)

    def _p_words(l):
        return (
            F.size(F.filter(F.split(F.trim(l), C4_WS_CLASS), lambda w: w != ""))
            >= C4_LINE_MIN_WORDS
        )

    def _p_js(l):
        return ~F.contains(F.lower(l), F.lit("javascript"))

    def build(ls):
        kept = F.filter(
            ls, lambda l: _p_punct(l) & _p_words(l) & _p_js(l)
        )
        return F.struct(
            F.size(ls).cast("long").alias("n_lines"),
            F.size(kept).cast("long").alias("n_kept"),
            F.size(F.filter(ls, lambda l: ~_p_punct(l)))
            .cast("long")
            .alias("n_drop_punct"),
            F.size(F.filter(ls, lambda l: _p_punct(l) & ~_p_words(l)))
            .cast("long")
            .alias("n_drop_short"),
            F.size(
                F.filter(ls, lambda l: _p_punct(l) & _p_words(l) & ~_p_js(l))
            )
            .cast("long")
            .alias("n_drop_js"),
            F.md5(F.array_join(kept, "\n")).alias("clean_md5"),
        )

    return _bind_once(F.split(F.coalesce(c, F.lit("")), "\n", -1), build)


def c4_doc_verdict(text: Column | str, stats: Column) -> Column:
    """C4 page-level verdict from the raw text + ``c4_line_stats``
    struct, first-failing-rule precedence: ``lorem_ipsum`` (the
    placeholder-text tell), ``brace`` (a '{' means code, C4 drops the
    page), ``too_few_lines`` (fewer than C4_MIN_KEPT_LINES kept
    lines — the line-level proxy for C4's 3-sentence floor), else
    ``keep``."""
    t = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    return (
        F.when(F.contains(F.lower(t), F.lit("lorem ipsum")), F.lit("lorem_ipsum"))
        .when(F.contains(t, F.lit("{")), F.lit("brace"))
        .when(stats["n_kept"] < C4_MIN_KEPT_LINES, F.lit("too_few_lines"))
        .otherwise(F.lit("keep"))
    )


# ---------------------------------------------- robots.txt evaluation
def robots_verdicts(
    reqs,
    rules,
    path_col: str = "path",
    domain_col: str = "domain",
    id_col: str = "doc_id",
):
    """Per-request robots.txt verdicts under the Google/RFC 9309
    longest-match rule: among the domain's rules whose prefix the
    path starts with, the LONGEST prefix decides, and on a
    tie-in-length Allow beats Disallow. A request with no matching
    rule (including a domain with no rules at all — no robots.txt)
    is allowed by default; an empty ``Disallow:`` line is the
    allow-all idiom and must be staged as NO rule row, not an
    empty-prefix rule (an empty prefix would match every path).

    ``rules`` columns: ``domain``, ``prefix``, ``is_allow`` (long
    0/1). Shape is the blocklist_verdicts pattern: broadcast the
    rules dim, equi-join on domain with a startswith post-filter
    kept in the join condition (BroadcastHashJoin, no cartesian),
    then ONE (id, domain, path)-keyed conditional max-struct
    aggregate — (prefix_len, is_allow) max implements
    longest-match-then-Allow exactly, map-side partial agg shrinks
    the fan-out before the only shuffle, and LEFT join carries
    no-rule requests through as default-allow. At 100 TB: a real
    robots store is millions of rows ≈ low GB — broadcastable after
    per-domain dedup, or bucket both sides by domain; everything
    else is one narrow keyed pass. Zero UDFs."""
    r = F.broadcast(rules)
    cand = reqs.join(
        r,
        (reqs[domain_col] == rules["domain"])
        & reqs[path_col].startswith(rules["prefix"]),
        "left",
    )
    hit = F.when(
        rules["prefix"].isNotNull(),
        F.struct(
            F.length(rules["prefix"]).alias("l"),
            rules["is_allow"].alias("a"),
            F.concat(
                F.when(rules["is_allow"] == 1, F.lit("allow:")).otherwise(
                    F.lit("disallow:")
                ),
                rules["prefix"],
            ).alias("r"),
        ),
    )
    return (
        cand.groupBy(reqs[id_col], reqs[domain_col], reqs[path_col])
        .agg(F.max(hit).alias("m"))
        .select(
            reqs[id_col],
            reqs[domain_col],
            reqs[path_col],
            (F.col("m").isNull() | (F.col("m.a") == 1)).alias("allowed"),
            F.col("m.r").alias("matched_rule"),
        )
    )
