"""Text analysis operators for document corpora.

All pure column expressions (whole-stage codegen, zero shuffle):

- **text_stats** — token/char counts, distinct-token ratio, stopword
  ratio, punctuation ratio: the standard quality-scoring feature set.
- **language_id** — n-gram/marker-token heuristic language guess.
- **token_count_bpe** — BPE-ish regex tokenizer count (letters runs,
  digit runs, single punctuation), the usual pre-tokenizer shape.
- **fingerprint** — md5 content fingerprint + a shingle-based rolling
  fingerprint for near-dup blocking.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

# marker tokens per language for the heuristic vote
LANG_MARKERS = {
    "de": ["der", "die", "das", "und", "nicht"],
    "es": ["el", "la", "los", "que", "y"],
    "fr": ["le", "les", "des", "est", "une"],
    "zh": ["的", "是", "不", "了", "在"],
}

BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def _tokens(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.split(col, " ")


def _marker_hits(toks: Column, markers: list[str]) -> Column:
    # NB: the lambda must take exactly one parameter — PySpark passes the
    # array index as a second argument when the callable's arity is 2.
    return F.size(F.filter(toks, lambda t: t.isin(markers)))


def text_stats(df: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality-scoring features per document."""
    toks = _tokens(content_col)
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    n_chars = F.length(F.col(content_col))
    n_punct = F.length(F.regexp_replace(F.col(content_col), "[^.,!?;:]", ""))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        F.round(n_distinct.cast("double") / n_tok, 6).alias("distinct_ratio"),
        F.round(stop_hits.cast("double") / n_tok, 6).alias("stopword_ratio"),
        F.round(n_punct.cast("double") / n_chars, 6).alias("punct_ratio"),
        F.round(n_chars.cast("double") / n_tok, 6).alias("avg_token_len"),
    )


# the Gopher "must contain 2 of" stopword list (Rae et al. 2021, A1.1)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def count_min_audit(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    depth: int = 4,
    width: int = 256,
    top_n: int = 20,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) estimator audit:
    build a ``depth × width`` CMS over the corpus token stream with
    md5-derived row hashes (value of the first 4 hex digits of
    ``md5("cms<r>-" + token)`` mod width), then report, for the
    ``top_n`` highest-frequency tokens, the sketch estimate (min over
    the ``depth`` row counters) against the exact count — the
    one-sided guarantee ``estimate >= exact`` holds by construction and
    ships as hash-checked data.

    Counter math: counter[r][b] = Σ exact_count over tokens hashing to
    (r, b) — identical to incrementing per occurrence, but computed from
    the per-token aggregate so the corpus-wide shuffle carries
    (token, count) pairs once.  At 100 TB the production sketch updates
    (r, b) partials map-side and shuffles ``depth × width`` integers per
    partition; the exact side exists here to MEASURE the estimator,
    exactly as minhash_error_audit measures LSH.

    Output: (token, exact_count, cms_estimate, overestimate), the
    ``top_n`` tokens by (count desc, token asc).
    """
    tok = df.select(
        F.explode(_tokens(content_col)).alias("token")
    )
    exact = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    ).localCheckpoint(eager=False)  # sketch + buckets + top all reuse it

    def bucket(r: int) -> Column:
        hx = F.md5(F.concat(F.lit(f"cms{r}-"), F.col("token")))
        return (
            F.conv(F.substring(hx, 1, 4), 16, 10).cast("long") % width
        )

    buck = exact.select(
        "token",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), bucket(r).alias("b"))
                    for r in range(depth)
                ]
            )
        ).alias("p"),
    ).select("token", "p.r", "p.b")
    sketch = (
        buck.join(exact, "token")
        .groupBy("r", "b")
        .agg(F.sum("exact_count").cast("long").alias("counter"))
    )
    est = (
        buck.join(sketch, ["r", "b"])
        .groupBy("token")
        .agg(F.min("counter").alias("cms_estimate"))
    )
    top = exact.orderBy(
        F.col("exact_count").desc(), F.col("token").asc()
    ).limit(top_n)
    return top.join(est, "token").select(
        "token",
        "exact_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
    )


def gopher_rules(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher quality-filter rule suite (Rae et al. 2021, Appendix A1),
    restricted to the rules that are well-defined on a single-line,
    space-tokenized corpus — per-document boolean flags plus the overall
    ``keep`` verdict, every threshold an integer cross-multiplication
    (no float edges, hash-stable in any engine):

    - ``r_word_count``  — ``min_words <= n <= max_words`` (Gopher 50..100k)
    - ``r_mean_word_len`` — mean word length in [3, 10] chars:
      ``3*n <= word_chars <= 10*n`` where ``word_chars`` excludes the
      joining spaces
    - ``r_stopwords`` — at least 2 distinct words from the Gopher
      stop-list present
    - ``r_alpha`` — ≥80% of words contain an alphabetic character:
      ``5*n_alpha >= 4*n``
    - ``r_top2gram`` — characters inside occurrences of the most common
      word 2-gram ≤ 20% of word chars: ``5*cnt*len(gram) <= word_chars``
      (gram length counted without its joining space; occurrences from
      the overlapping sliding window; ties broken to the
      lexicographically smallest gram; docs with <2 words pass
      trivially)

    Line-shape rules (bullet/ellipsis line ratios, duplicate-line
    fractions) are omitted as vacuous on a corpus with no newlines —
    stated here so the omission is a documented scope decision, not a
    gap.

    Scale shape: the per-doc features are one codegen scan; the only
    shuffles are the (id, gram) count and the per-id top-gram aggregate
    — both partial-aggregated map-side.  Output: one row per input row.
    """
    toks = _tokens(content_col)
    n_words = F.size(toks)
    word_chars = F.length(F.col(content_col)) - (n_words - 1)
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), stop_arr))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    feat = df.select(
        F.col(id_col).alias("id"),
        n_words.alias("n_words"),
        word_chars.alias("word_chars"),
        stop_hits.alias("stop_hits"),
        n_alpha.alias("n_alpha_words"),
    )
    # overlapping word 2-grams, duplicates kept (occurrence counts)
    k = n_words - 1
    grams = F.zip_with(
        F.slice(toks, 1, k),
        F.slice(toks, 2, k),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    g2 = df.select(F.col(id_col).alias("id"), F.explode(grams).alias("g"))
    cnts = g2.groupBy("id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    m = F.min(
        F.struct((-F.col("cnt")).alias("nc"), F.col("g").alias("g"))
    ).alias("m")
    top = cnts.groupBy("id").agg(m).select(
        "id",
        (-F.col("m.nc")).alias("top2_cnt"),
        (F.length("m.g") - 1).alias("top2_len"),
    )
    j = feat.join(top, "id", "left").select(
        "*",
        F.coalesce("top2_cnt", F.lit(0)).alias("__cnt"),
        F.coalesce("top2_len", F.lit(0)).alias("__len"),
    )
    r_wc = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    r_mwl = (3 * F.col("n_words") <= F.col("word_chars")) & (
        F.col("word_chars") <= 10 * F.col("n_words")
    )
    r_stop = F.col("stop_hits") >= 2
    r_alpha = 5 * F.col("n_alpha_words") >= 4 * F.col("n_words")
    r_2g = 5 * F.col("__cnt") * F.col("__len") <= F.col("word_chars")
    return j.select(
        F.col("id").alias(id_col),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("word_chars").cast("long").alias("word_chars"),
        F.col("stop_hits").cast("long").alias("stop_hits"),
        F.col("n_alpha_words").cast("long").alias("n_alpha_words"),
        F.col("__cnt").cast("long").alias("top2_cnt"),
        F.col("__len").cast("long").alias("top2_len"),
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_stop.alias("r_stopwords"),
        r_alpha.alias("r_alpha"),
        r_2g.alias("r_top2gram"),
        (r_wc & r_mwl & r_stop & r_alpha & r_2g).alias("keep"),
    )


def language_id(df: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-token vote: most-hit language wins, 'en' default.

    Deterministic tie-break: languages checked in sorted order, strict
    greater-than to beat the incumbent.
    """
    toks = _tokens(content_col)
    best_lang = F.lit("en")
    best_hits = F.lit(0)
    for lang in sorted(LANG_MARKERS):
        hits = _marker_hits(toks, LANG_MARKERS[lang])
        cond = hits > best_hits
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(cond, hits).otherwise(best_hits)
    return df.select(F.col(id_col), best_lang.alias("lang_pred"))


def token_count_bpe(df: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BPE-ish pre-tokenizer count via regex extraction."""
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(F.col(content_col), F.lit(BPE_TOKEN_RE), 0)).alias(
            "n_bpe_tokens"
        ),
    )


def repetition_score(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Gopher-style repetition signal: the fraction of a document's word
    n-grams occupied by its single most frequent n-gram. High values flag
    boilerplate / degenerate repetition for the pretraining quality gate.

    Explode n-grams → count per (doc, gram) → max & sum per doc. Both
    aggregates get map-side partial aggregation; the shuffle key is
    (doc_id, gram_hash)-sized, never the text. Zero Python.
    Output: (doc_id, n_ngrams, top_ngram_cnt, repetition_ratio).
    """
    # NB: not word_shingles() — that dedups grams; repetition needs every
    # occurrence
    toks = _tokens(content_col)
    k = F.size(toks) - (n - 1)
    grams = F.when(k <= 0, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    per_gram = (
        df.select(F.col(id_col), F.explode(grams).alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_gram.groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_ngrams"),
            F.max("cnt").alias("top_ngram_cnt"),
        )
        .select(
            id_col,
            "n_ngrams",
            "top_ngram_cnt",
            F.round(
                F.col("top_ngram_cnt").cast("double") / F.col("n_ngrams"), 6
            ).alias("repetition_ratio"),
        )
    )


def contamination_pairs(
    docs: DataFrame,
    benchmarks: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    n: int = 5,
    min_shared: int = 1,
    exclude_same_id: bool = False,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ≥
    ``min_shared`` distinct word n-grams with any benchmark document.

    The standard eval-leakage check (n-gram collision, à la GPT-3/PaLM
    dataset reports). Inverted-index join on shingles: the corpus side
    explodes to (doc, gram) once, the benchmark side is tiny and
    broadcast — no all-pairs comparison, the shuffle carries only
    benchmark-colliding grams. Output: (doc_id, bench_id, shared_ngrams).

    ``exclude_same_id`` drops pairs where ``doc_id == bench_id`` — ONLY
    correct when the benchmark set was sampled from the corpus itself
    (same ID space), as our registry query does.  Corpus and benchmark
    IDs are generally unrelated spaces: with the default (False), a
    contaminated document whose id numerically collides with some
    benchmark id is still reported.
    """
    from icebergproject_spark.llm.dedup import word_shingles

    doc_grams = docs.select(
        F.col(id_col), F.explode(word_shingles(content_col, n)).alias("g")
    )
    bench_grams = benchmarks.select(
        F.col(bench_id_col), F.explode(word_shingles(content_col, n)).alias("g")
    )
    joined = doc_grams.join(F.broadcast(bench_grams), "g")
    if exclude_same_id:
        joined = joined.filter(F.col(id_col) != F.col(bench_id_col))
    return (
        joined.groupBy(id_col, bench_id_col)
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_shared)
    )


def stratified_sample(
    df: DataFrame,
    rates: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    rate_col: str = "rate_pct",
) -> DataFrame:
    """Deterministic stratified sampling — the domain-mixing primitive:
    keep ``rate_pct``% of each stratum, chosen by a Knuth multiplicative
    hash of the id (not row order, not RNG state), so the sample is
    reproducible across runs, engines, and partitionings.

    ``rates`` is a small (stratum, rate_pct) table, broadcast; the filter
    is a pure column predicate evaluated in the scan stage — at 100 TB
    this samples without any shuffle and composes with pushdown.
    """
    # reduce the id below 2^31 before the Knuth multiply so the product
    # stays under 2^63 for ANY bigint id (ANSI mode makes bigint overflow
    # an error, not a wrap)
    h = F.pmod(
        F.pmod(F.col(id_col), F.lit(2147483648)) * F.lit(2654435761),
        F.lit(4294967296),
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(h % 100 < F.col(rate_col))
        .drop(rate_col)
    )


def pack_sequences(
    df: DataFrame,
    context_len: int = 2048,
    content_col: str = "text",
    id_col: str = "doc_id",
    strata_col: str | None = None,
    token_count_col: str | None = None,
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in deterministic
    (stratum, doc_id) order and chop the token stream at fixed
    ``context_len`` boundaries — the pre-training batch-prep step that
    keeps a 2048-token context from being 90% padding.

    Concat-and-chop (docs MAY straddle a boundary and continue in the
    next pack) is the semantics GPT-2/3-lineage pipelines actually use,
    and unlike greedy no-split bin packing it is a closed form over one
    PREFIX SUM: a doc starting at global token offset ``prev_cum`` lands
    in pack ``floor(prev_cum / L)`` at offset ``prev_cum % L`` and spans
    ``floor((cum-1)/L) - floor(prev_cum/L) + 1`` packs.  No iteration,
    no UDF, deterministic across engines and partitionings.  (Greedy
    no-split packing is a sequential recurrence — each shift depends on
    all previous shifts — so it can't be a single window expression;
    when padding-free no-split packing is required, run this per
    stratum inside ``applyInPandas``.)

    The per-stratum token cumsum is computed DISTRIBUTED with
    :func:`~icebergproject_spark.llm.sharding.exact_prefix_sum`: range
    partition on (stratum, id), per-(partition, stratum) partial sums
    rolled into broadcast offsets, per-partition window for the local
    cumsum.  Integer sums are associative, so the result is
    byte-identical to one window cumsum per stratum (the SQL oracle's
    spelling) — a 100 TB corpus with a handful of sources never funnels
    each source's whole token stream through one sort partition.

    Output: (id, n_tokens, pack_id, pack_offset, n_packs_spanned);
    pack_id = "<stratum>-<window index>" of the doc's FIRST token.

    ``token_count_col``: use a PRECOMPUTED per-doc token count (e.g.
    ``bpe_tokenize``'s ``n_tokens`` — tokenizer-true packing) instead
    of the whitespace count of ``content_col``.
    """
    from icebergproject_spark.llm.sharding import exact_prefix_sum

    n_tok = (
        F.col(token_count_col)
        if token_count_col
        else F.size(_tokens(content_col))
    )
    strat = F.col(strata_col) if strata_col else F.lit("all")
    scored = df.select(
        F.col(id_col).alias("id"),
        n_tok.cast("long").alias("n_tokens"),
        strat.cast("string").alias("__strat"),
    )
    cummed = exact_prefix_sum(
        scored,
        "n_tokens",
        [F.col("id").asc()],
        group_cols=["__strat"],
        sum_col="__cum",
    )
    cum = F.col("__cum")
    prev_cum = cum - F.col("n_tokens")
    first_pack = F.floor(prev_cum / context_len)
    last_pack = F.floor((cum - 1) / context_len)
    return cummed.select(
        F.col("id"),
        # int, matching the oracle's CAST(n_tokens AS INTEGER)
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.concat_ws("-", F.col("__strat"), first_pack.cast("string")).alias(
            "pack_id"
        ),
        (prev_cum % context_len).cast("long").alias("pack_offset"),
        (last_pack - first_pack + 1).cast("long").alias("n_packs_spanned"),
    )


def bpe_pair_counts(
    df: DataFrame, content_col: str = "text", top_k: int = 30
) -> DataFrame:
    """One counting step of BPE tokenizer training: global frequency of
    adjacent character pairs within words, top-k.

    Counted the way real BPE trainers do: reduce the corpus to its
    VOCABULARY first (groupBy word → frequency; word distributions are
    Zipfian, so the vocab is orders of magnitude smaller than the token
    stream), then expand char pairs only for distinct words, weighting
    each pair by the word's frequency. The big shuffle carries one row
    per (partition, word) with map-side combine; the char-pair explode
    touches vocab-sized data. Top-k is TakeOrderedAndProject (no global
    sort). Iterating real BPE = re-running this with the current merges
    applied to the splitter.
    """
    vocab = (
        df.select(F.explode(_tokens(content_col)).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wcnt"))
    )
    # split into chars without the trailing empty string the '' pattern emits
    chars = F.split(F.col("w"), "(?!$)")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(chars) - 1),
        lambda i: F.concat(
            F.element_at(chars, i.cast("int")),
            F.element_at(chars, (i + 1).cast("int")),
        ),
    )
    return (
        vocab.select("wcnt", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("wcnt").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(top_k)
    )


def doc_keywords(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Per-document keyword extraction, tf-idf-style but exactly
    reproducible: rank a doc's terms by term frequency desc, document
    frequency asc (rarer ⇒ more distinctive), token asc; keep the top k.

    Integer ranking replaces the float log in classic tf-idf so the result
    hash-matches any engine. Plan: one shuffle to (doc, token) tf, one
    broadcast-sized df join (vocabulary ≪ corpus), one window shuffle on
    doc_id. Output: (doc_id, rank, token, tf, df).
    """
    from pyspark.sql.window import Window

    tok = df.select(F.col(id_col), F.explode(_tokens(content_col)).alias("token"))
    tf = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        tf.join(F.broadcast(dfreq), "token")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "token", "tf", "df")
    )


# deliberately simple patterns — kept to constructs with identical
# semantics in Java regex and RE2-family engines (char classes, +, {n,m})
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\- ]{6,}[0-9]",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def redact_pii(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrub for pretraining corpora: replace emails / phone numbers /
    IPv4 addresses with typed placeholder tokens and count what was hit.

    Chained ``regexp_replace`` column expressions — one codegen'd pass per
    pattern, zero shuffle, linear in corpus bytes. Order matters: emails
    first (their local part can contain digits a phone pattern would eat),
    IPs before phones (dotted quads are digit runs too).

    Output: (id, redacted, n_emails, n_phones, n_ips).
    """
    col = F.col(content_col)
    counts = {
        f"n_{name}s" if name != "ipv4" else "n_ips": F.size(
            F.regexp_extract_all(col, F.lit(pat), 0)
        )
        for name, pat in PII_PATTERNS.items()
    }
    red = F.regexp_replace(col, PII_PATTERNS["email"], "<EMAIL>")
    red = F.regexp_replace(red, PII_PATTERNS["ipv4"], "<IP>")
    red = F.regexp_replace(red, PII_PATTERNS["phone"], "<PHONE>")
    return df.select(
        F.col(id_col),
        red.alias("redacted"),
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        counts["n_ips"].alias("n_ips"),
    )


def unigram_logprob_score(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style LM quality score: each document's log-probability
    under the corpus's own unigram model (higher = more typical; the
    tails are the filter candidates — gibberish below, boilerplate
    above).

    Each vocabulary token's log-probability is quantized ONCE to integer
    micro-nats (``round(1e6·(ln cnt − ln total))`` — both ``ln`` inputs
    are exact integers rendered as doubles, so every engine sees
    identical values), and the per-document score is the **BIGINT** sum
    over its token stream: integer arithmetic, independent of
    partitioning and summation order, hence hash-checkable against a
    SQL oracle.

    Plan: one vocabulary aggregate, one scalar total (a broadcast 1-row
    total — no collect), a broadcast model join, one per-doc aggregate.
    No Python, no O(n²); swapping in a real KenLM scorer replaces only
    the broadcast model, not the plan.
    Output: (doc_id, n_tokens, sum_lp_micro).
    """
    tok = df.select(F.col(id_col), F.explode(_tokens(content_col)).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    model = vocab.crossJoin(F.broadcast(total)).select(
        "token",
        F.round(
            (
                F.log(F.col("cnt").cast("double"))
                - F.log(F.col("total").cast("double"))
            )
            * F.lit(1000000.0)
        )
        .cast("long")
        .alias("lpm"),
    )
    return (
        tok.join(F.broadcast(model), "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lpm").alias("sum_lp_micro"),
        )
    )


def quality_buckets(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 3,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al., LREC 2020): rank
    documents by LM quality score and cut into equal-depth buckets —
    CCNet trains on "head", inspects "middle", drops "tail".  Bucket 1 =
    highest mean log-probability.  num_buckets=3 gives the canonical
    labels; any k works (curriculum over quality = larger k).

    The ranking key is ``sum_lp_micro / n_tokens`` (the
    :func:`unigram_logprob_score` micro-nat sum) as a double — ONE
    division of exact integers, correctly rounded, hence identical in
    any IEEE engine — ranked descending with ``id`` tie-break.  The
    NTILE is exact and distributed: ``exact_global_rank`` plus the
    ``exact_ntile`` expression, equal to NTILE over a global window
    with no single-partition stage.
    Output: (doc_id, n_tokens, sum_lp_micro, mean_lp_micro, bucket,
    bucket_label).
    """
    from icebergproject_spark.llm.sharding import exact_global_rank, exact_ntile

    scored = unigram_logprob_score(df, content_col, id_col)
    mean = F.col("sum_lp_micro").cast("double") / F.col("n_tokens")
    scored = scored.withColumn("__mean", mean)
    ranked, n = exact_global_rank(
        scored, [F.col("__mean").desc(), F.col(id_col).asc()]
    )
    bucket = exact_ntile(F.col("__rn"), n, num_buckets)
    label = (
        F.when(bucket == 1, "head")
        .when(bucket == num_buckets, "tail")
        .otherwise("middle")
    )
    return ranked.select(
        id_col,
        "n_tokens",
        "sum_lp_micro",
        F.round(F.col("__mean"), 6).alias("mean_lp_micro"),
        bucket.alias("bucket"),
        label.alias("bucket_label"),
    )


def normalize_text(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical text normalization before dedup/tokenization: lowercase,
    strip control characters, collapse whitespace runs, trim. Pure
    column expressions, zero shuffle. (Unicode NFC/NFKC needs a Pandas
    UDF — out of scope here since the corpus is ASCII; the hook is this
    function.) Output: (id, norm_text, n_chars_norm)."""
    col = F.col(content_col)
    norm = F.lower(col)
    norm = F.regexp_replace(norm, r"[\x00-\x1F\x7F]", " ")
    norm = F.trim(F.regexp_replace(norm, r"\s{2,}", " "))
    return df.select(
        F.col(id_col),
        norm.alias("norm_text"),
        F.length(norm).alias("n_chars_norm"),
    )


def fingerprint(df: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content fingerprints: md5 of the text + first-shingle rolling hash
    (cheap blocking key for near-dup passes)."""
    from icebergproject_spark.llm.dedup import word_shingles

    return df.select(
        F.col(id_col),
        F.md5(F.col(content_col)).alias("content_md5"),
        F.xxhash64(F.element_at(word_shingles(content_col, 3), 1)).alias("block_key"),
    )


def dsir_importance_weights(
    df: DataFrame,
    target_filter,
    content_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS 2023, "Data Selection
    for Language Models via Importance Resampling"): score every document
    by how much its hashed n-gram profile resembles a TARGET slice of the
    corpus (``target_filter``, e.g. ``col("lang") == "en"`` or a curated
    high-quality source) versus the raw distribution.  Downstream,
    sampling ∝ exp(weight) (Gumbel top-k) selects pretraining data — the
    step after dedup/quality filtering in the LLM pipeline.

    Features are word uni+bigrams hashed into ``buckets`` counts (the
    paper's hashed generative model); both distributions get Laplace
    smoothing 1.0; weight = Σ_grams log p_target(bucket) − log p_raw(bucket).
    Engineered for bit-exact cross-engine replay:

    - buckets come from an **md5 hex prefix** (first 4 nibbles mod
      ``buckets``), so any engine with md5 mints the identical feature
      space;
    - the per-bucket log-ratio is quantized ONCE to integer micro-nats
      (``round(1e6·(ln p_target − ln p_raw))`` — each input to ``ln`` is
      a single correctly-rounded division of exact integers, so both
      engines see identical doubles), and the per-document weight is the
      **BIGINT** sum Σ_b count_b·lr_micro_b — integer arithmetic, hence
      independent of partitioning and summation order.  No float ever
      crosses an aggregation boundary.

    Scale shape: two bucket-count aggregates (map-side combine,
    ``buckets`` rows each), two scalar totals (bounded driver
    reductions), a broadcast log-ratio table, one final aggregate over
    per-(doc, bucket) counts.  Nothing quadratic, no vocabulary
    materialized: hashing fixes the feature space regardless of corpus
    size.  Output: (doc_id, n_feats, weight_micro) — weight in
    micro-nats, BIGINT.
    """
    toks = _tokens(content_col)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    grams = F.when(F.size(toks) >= 2, F.concat(toks, bigrams)).otherwise(toks)
    bucket = (
        F.conv(F.substring(F.md5("g"), 1, 4), 16, 10).cast("long") % buckets
    )
    # per-(doc, bucket) integer counts materialized ONCE: they feed the
    # raw distribution, the target distribution, and the final per-doc
    # weight — and they are ~buckets rows per doc max, far smaller than
    # the exploded gram stream
    docb = (
        df.select(F.col(id_col).alias("id"), F.explode(grams).alias("g"))
        .select("id", bucket.alias("b"))
        .groupBy("id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    raw = docb.groupBy("b").agg(F.sum("c").alias("rc"))
    tgt_ids = df.filter(target_filter).select(F.col(id_col).alias("id"))
    tgt = (
        docb.join(tgt_ids, "id", "left_semi")
        .groupBy("b")
        .agg(F.sum("c").alias("tc"))
    )
    # totals: two scalars — bounded driver reductions
    total_r = raw.agg(F.sum("rc")).collect()[0][0] or 0
    total_t = tgt.agg(F.sum("tc")).collect()[0][0] or 0
    denom_t = float(total_t + buckets)
    denom_r = float(total_r + buckets)
    lr_micro = F.round(
        (
            F.log((F.coalesce(F.col("tc"), F.lit(0)) + F.lit(1.0)) / F.lit(denom_t))
            - F.log((F.col("rc") + F.lit(1.0)) / F.lit(denom_r))
        )
        * F.lit(1000000.0)
    ).cast("long")
    ratio = raw.join(tgt, "b", "left").select("b", lr_micro.alias("lrm"))
    return (
        docb.join(F.broadcast(ratio), "b")
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_feats"),
            F.sum(F.col("c") * F.col("lrm")).alias("weight_micro"),
        )
        .select(F.col("id").alias(id_col), "n_feats", "weight_micro")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-window document chunking with overlap — the RAG/embedding
    prep step (split long docs into ``chunk_tokens``-token windows whose
    starts advance by ``chunk_tokens - overlap``; the final, possibly
    short, chunk keeps the tail).  Complements `multimodal.chunk_binary`
    (bytes) on the text side.

    Arrow-batched ``mapInPandas`` rather than array expressions: a
    transform-over-starts into a derived token array re-tokenizes the
    doc once per chunk under Catalyst's projection collapse (the
    documented O(L²) trap, llm/dedup.word_shingles), while the pandas
    kernel moves each document's text exactly once and is embarrassingly
    parallel across docs.  Deterministic output → DuckDB-oracle-checkable
    even though the kernel is Python.

    Output: (doc_id, chunk_id, n_tokens, chunk_text); chunk_id is the
    0-based window index.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap

    def chunk(batches):
        import pandas as pd

        for pdf in batches:
            ids, cids, ns, texts = [], [], [], []
            for did, t in zip(pdf[id_col], pdf[content_col]):
                toks = t.split(" ")
                cid = 0
                for s in range(0, len(toks), stride):
                    piece = toks[s : s + chunk_tokens]
                    ids.append(did)
                    cids.append(cid)
                    ns.append(len(piece))
                    texts.append(" ".join(piece))
                    cid += 1
                    if s + chunk_tokens >= len(toks):
                        break
            yield pd.DataFrame(
                {id_col: ids, "chunk_id": cids, "n_tokens": ns,
                 "chunk_text": texts}
            )

    return df.select(id_col, content_col).mapInPandas(
        chunk,
        f"{id_col} long, chunk_id int, n_tokens long, chunk_text string",
    )


def hash_features(
    docs: DataFrame,
    dim: int = 64,
    salt: str = "feat0",
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashing text vectorization (the "hashing trick",
    Weinberger et al. 2009; the featurizer behind fastText bigram
    buckets and DSIR's hashed n-grams): each word buckets to
    ``int(md5(salt-word)[:4hex]) % dim`` and the document's vector is
    the bucket-count histogram — a fixed-width ``array<bigint>`` bridge
    from the text tier to every embedding-tier operator (k-means,
    similarity, quantization) with NO trained vocabulary object.

    Deterministic md5 bucketing renders identically in ANSI SQL (the
    ``hash_shard`` idiom), so the output is oracle-checkable.  Scale
    shape: explode → two hash aggregates (map-side partial combine),
    one broadcast-joinable output row per doc; no windows, no sort.
    Empty documents keep an all-zero vector (left join from the doc
    set, not the word set).
    """
    from icebergproject_spark.llm.sharding import shuffle_key

    words = (
        docs.select(id_col, F.explode(F.split(F.col(content_col), " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    bucket = (
        F.conv(F.substring(shuffle_key("w", salt), 1, 4), 16, 10).cast("long")
        % dim
    ).cast("int")
    counts = words.groupBy(id_col, bucket.alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    vecs = counts.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("b", "c"))).alias("m")
    )
    return (
        docs.select(id_col)
        .join(vecs, id_col, "left")
        .select(
            id_col,
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(
                    F.element_at("m", i), F.lit(0).cast("long")
                ),
            ).alias("features"),
        )
    )


def bigram_logprob_micro(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Bigram LM quality score with add-1 smoothing, at ORACLE strength —
    the next rung above :func:`unigram_logprob_score` on the KenLM
    ladder: fluency (token-order) signal, not just vocabulary typicality.

    Per bigram type: ``ln((C(w1,w2) + 1) / (C(w1) + V))`` — every input
    an exact integer rendered as a double, quantized ONCE to integer
    micro-nats; the per-document score is the BIGINT sum over its bigram
    stream (order-independent, partitioning-independent).

    Plan shape: bigrams come from ``arrays_zip(slice, slice)`` on the
    token ARRAY — per-row array ops in whole-stage codegen, NO window
    and no per-doc shuffle to form pairs.  Then: one bigram-count
    aggregate, one unigram-count aggregate (vocabulary-sized,
    broadcast), one scalar V, one per-doc aggregate.  All linear.
    Output: (doc_id, n_bigrams, sum_lp_micro).
    """
    toks = _tokens(content_col)
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"),
        F.slice(toks, 2, n - 1).alias("w2"),
    )
    big = df.select(F.col(id_col), F.explode(pairs).alias("p")).select(
        id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uni = df.select(F.explode(toks).alias("w1")).groupBy("w1").agg(
        F.count(F.lit(1)).alias("c1")
    )
    v = uni.agg(F.count(F.lit(1)).alias("v"))
    model = (
        bc.join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            F.round(
                (
                    F.log((F.col("c2") + F.lit(1)).cast("double"))
                    - F.log((F.col("c1") + F.col("v")).cast("double"))
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("lpm"),
        )
    )
    return (
        big.join(model, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lpm").alias("sum_lp_micro"),
        )
    )


def bm25_topk(
    df: DataFrame,
    queries: list[tuple[int, str]],
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k retrieval (Robertson/Spärck Jones) — the
    lexical-retrieval baseline of every RAG / training-data curation
    stack, at ORACLE strength.

    ``queries``: ``[(query_id, "space separated terms"), ...]`` — a
    bounded, driver-known set (the batch-retrieval shape: scoring a
    query workload against the corpus).

    Determinism: the per-(query, doc, term) score is ONE float
    expression — ``idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`` — with
    no accumulation, quantized to integer micro-points BEFORE the
    per-doc sum, so the total is an order-independent BIGINT sum that
    hash-matches any engine (the repo's established micro-integer
    convention; see unigram_logprob_score).

    100 TB shape: tf/dl are one (doc, term) shuffle each; df and the
    corpus stats are vocabulary-sized / single-row BROADCASTS; the query
    relation is tiny and broadcast into the tf join, so the corpus is
    never shuffled again after tokenization. Top-k is a per-query window
    over ≤ |matched docs| rows, partitioned by query_id — no global
    sort.

    Output: (query_id, rank, doc_id, score_micro).
    """
    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(_tokens(content_col)).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("total_dl")
    )
    q = df.sparkSession.createDataFrame(
        [(qid, t) for qid, text in queries for t in text.split()],
        "query_id int, term string",
    )
    avgdl = F.col("total_dl").cast("double") / F.col("n")
    idf = F.log(
        F.lit(1)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    w = (
        idf
        * (F.col("tf") * (F.lit(k1) + F.lit(1)))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1) - F.lit(b) + (F.lit(b) * F.col("dl")) / avgdl)
        )
    )
    scored = (
        F.broadcast(q)
        .join(tf, "term")
        .join(dl, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.round(w * F.lit(1_000_000)).cast("bigint").alias("si"),
        )
    )
    tot = scored.groupBy("query_id", "doc_id").agg(
        F.sum("si").alias("score_micro")
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return (
        tot.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score_micro")
    )


def hll_registers(
    df: DataFrame,
    value_col: str = "event_id",
    group_col: str = "event_type",
) -> DataFrame:
    """Sparse HLL register table (g, bucket, reg) for :func:`hll_audit`.

    Exposed separately because registers are the sketch's MERGEABLE
    state — the 100 TB contract: registers of a union are the
    element-wise MAX of per-partition/per-batch registers (pinned by
    ``test_hll_registers_merge_by_max``), so shards/streams combine by
    a ``groupBy(g, bucket).max(reg)`` of m-row sketches, never by
    re-reading rows."""
    hx = F.md5(
        F.concat(F.lit("hll-"), F.col(value_col).cast("string"))
    )
    vals = df.select(group_col, value_col).distinct()
    hashed = vals.select(
        F.col(group_col).alias("g"),
        F.conv(F.substring(hx, 1, 2), 16, 10).cast("long").alias("bucket"),
        F.conv(F.substring(hx, 3, 12), 16, 10).cast("long").alias("v"),
    ).select(
        "g",
        "bucket",
        F.when(F.col("v") == 0, F.lit(49))
        .otherwise(F.lit(49) - F.length(F.bin(F.col("v"))))
        .cast("int")
        .alias("rho"),
    )
    return hashed.groupBy("g", "bucket").agg(F.max("rho").alias("reg"))


def hll_audit(
    df: DataFrame,
    value_col: str = "event_id",
    group_col: str = "event_type",
    precision_bits: int = 8,
) -> DataFrame:
    """HyperLogLog (Flajolet 2007) estimator audit — the cardinality
    sibling of :func:`count_min_audit`: build m = 2^p md5-derived
    registers per group, compute the HLL estimate (with the standard
    linear-counting small-range correction), and ship it NEXT TO the
    exact distinct count as hash-checked data.

    Deterministic by construction, so DuckDB replays it: the register
    for a value is ``max(rho)`` over md5-derived (bucket, rho) pairs —
    integer maxes of integer hashes (bucket = first 2 hex digits, rho =
    49 − bit_length of the next 48 bits) — and the harmonic sum is the
    EXACT BIGINT ``Σ 2^(54 − reg)`` (register ≤ 49 ⇒ max term 2^54,
    256 terms ⇒ < 2^63).  The only float steps are one double division
    by that integer (ROUND to 3) and, in the small-range branch,
    ``m·ln(m/V)`` on small integers — the repo's proven
    round-late-and-once discipline.

    At 100 TB the production sketch is the same math with map-side
    partial registers: each partition shuffles m small ints per group
    (not rows), merged by max — this audit MEASURES that estimator
    against truth at test scale, exactly as count_min_audit and
    minhash_error_audit do for their sketches.

    Output: (group, exact_distinct, hll_estimate, rel_err_pct).
    """
    m = 1 << precision_bits
    alpha = 0.7213 / (1 + 1.079 / m)
    c_num = alpha * m * m * float(1 << 54)
    regs = hll_registers(df, value_col, group_col)
    groups = df.select(F.col(group_col).alias("g")).distinct()
    buckets = df.sparkSession.range(m).select(F.col("id").alias("bucket"))
    full = (
        groups.crossJoin(F.broadcast(buckets))
        .join(regs, ["g", "bucket"], "left")
        .withColumn("reg", F.coalesce(F.col("reg"), F.lit(0)))
    )
    per_group = full.groupBy("g").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 54 - reg)"))
        .alias("s_q"),
        F.sum(F.when(F.col("reg") == 0, 1).otherwise(0)).alias("zeros"),
    )
    exact = df.groupBy(F.col(group_col).alias("g")).agg(
        F.countDistinct(value_col).cast("long").alias("exact_distinct")
    )
    est_raw = F.lit(c_num) / F.col("s_q").cast("double")
    est = F.when(
        (est_raw <= F.lit(2.5 * m)) & (F.col("zeros") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros").cast("double")),
    ).otherwise(est_raw)
    return (
        per_group.join(exact, "g")
        .select(
            F.col("g").alias(group_col),
            "exact_distinct",
            F.round(est, 3).alias("hll_estimate"),
            F.round(
                F.lit(100.0)
                * F.abs(F.round(est, 3) - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                2,
            ).alias("rel_err_pct"),
        )
    )


def kmv_audit(
    df: DataFrame,
    value_col: str = "event_id",
    group_col: str = "event_type",
    k: int = 64,
) -> DataFrame:
    """K-minimum-values distinct-count sketch audit (Bar-Yossef 2002;
    the KMV/theta-sketch family) — the third cardinality sibling next
    to :func:`hll_audit` and :func:`count_min_audit`, and the only one
    whose estimate is a PURE BIGINT: hash every distinct value into the
    48-bit md5-prefix space, keep the k smallest hashes per group, and
    estimate n ≈ (k−1)·2⁴⁸ DIV kth_min — one truncating integer
    division, no floats anywhere, so the ESTIMATE itself hash-checks
    bit-for-bit in any engine ((k−1)·2⁴⁸ < 2⁶³ at any practical k).
    Groups with fewer than k distinct hashes store them all and the
    sketch IS exact (estimate = count of stored hashes).

    At 100 TB the production sketch is mergeable state: each partition
    keeps its k smallest, merge = k smallest of the union (the same
    shape DataSketches' theta sketch ships); this audit MEASURES that
    estimator against the exact distinct count at test scale.  The
    registered arm's per-group window is the verification-tier
    implementation — its shuffle carries only distinct hashes.

    Output: (group, exact_distinct, kmv_estimate BIGINT, rel_err_pct).
    """
    hv = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 12), 16, 10
    ).cast("long")
    # NULL values never reach the sketch: count_distinct (the exact arm)
    # ignores NULL, and a NULL md5 row would also sort NULLS FIRST in
    # Spark vs NULLS LAST in DuckDB — filter before hashing so both
    # arms see the same universe (r9 ADVICE).
    dv = (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("g"), hv.alias("hv"))
        .distinct()
    )
    w = Window.partitionBy("g").orderBy(F.col("hv").asc())
    kept = dv.withColumn("r", F.row_number().over(w)).where(F.col("r") <= k)
    sk = kept.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.max("hv").alias("kth"),
    )
    exact = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count_distinct(F.col(value_col)).cast("long").alias("exact_distinct")
    )
    est = F.when(F.col("n_kept") < k, F.col("n_kept")).otherwise(
        F.expr(f"CAST(({k} - 1) * {1 << 48} DIV kth AS BIGINT)")
    )
    return (
        sk.join(exact, "g")
        .select(
            F.col("g").alias(group_col),
            "exact_distinct",
            est.cast("long").alias("kmv_estimate"),
            F.round(
                F.lit(100.0)
                * F.abs(est.cast("double") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                2,
            ).alias("rel_err_pct"),
        )
    )


def bloom_audit(
    df: DataFrame,
    value_col: str = "event_id",
    m_bits: int = 1 << 20,
    n_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter false-positive-rate audit (Bloom 1970) — the
    membership sibling of the cardinality/frequency sketch audits:
    build an m-bit filter from the EVEN values (h md5-derived bit
    positions per value), probe it with the ODD values (disjoint by
    construction, so every hit is a false positive), and ship the
    measured FPR as data.  Every step is integer (positions = 48-bit
    md5 prefix mod m; membership = h-way position-set intersection
    count), so the audit hash-checks bit-for-bit.

    At 100 TB the filter is mergeable map-side state: each partition
    emits its set bit positions (≤ m small ints), merge = distinct —
    the same build this audit uses; probes join the broadcast bit set.
    Spark's own runtime bloom pushdown (test_plans:
    test_runtime_bloom_filter_prunes_probe_side) covers the join-pruning
    use; this head measures the DATA-ENGINEERING filter (e.g. "have I
    crawled this URL") against its design FPR.

    Output: one row — (m_bits, n_hashes, n_build, n_probe, bits_set,
    false_positives, fpr_ppm), all BIGINT.
    """

    def positions(side: DataFrame) -> DataFrame:
        v = side.select(F.col("__v"))
        out = None
        for j in range(n_hashes):
            pj = v.select(
                F.col("__v"),
                F.lit(j).alias("j"),
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    "-", F.lit(str(j)), F.col("__v").cast("string")
                                )
                            ),
                            1,
                            12,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % m_bits
                ).alias("pos"),
            )
            out = pj if out is None else out.unionByName(pj)
        return out

    vals = df.select(F.col(value_col).cast("long").alias("__v")).distinct()
    build = vals.where(F.col("__v") % 2 == 0)
    probe = vals.where(F.col("__v") % 2 != 0)
    bits = positions(build).select("pos").distinct().localCheckpoint(
        eager=False
    )  # the filter itself — consumed by the probe join and the bit count
    claimed = (
        positions(probe)
        .join(F.broadcast(bits), "pos")
        .groupBy("__v")
        .agg(F.count(F.lit(1)).alias("hits"))
        .where(F.col("hits") == n_hashes)
    )
    nb = build.agg(F.count(F.lit(1)).cast("long").alias("n_build"))
    np_ = probe.agg(F.count(F.lit(1)).cast("long").alias("n_probe"))
    bs = bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    fp = claimed.agg(F.count(F.lit(1)).cast("long").alias("false_positives"))
    return (
        nb.crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(bs))
        .crossJoin(F.broadcast(fp))
        .select(
            F.lit(m_bits).cast("long").alias("m_bits"),
            F.lit(n_hashes).cast("long").alias("n_hashes"),
            "n_build",
            "n_probe",
            "bits_set",
            "false_positives",
            F.expr(
                "CAST(CASE WHEN n_probe = 0 THEN 0"
                " ELSE false_positives * 1000000 DIV n_probe END AS BIGINT)"
            ).alias("fpr_ppm"),  # ANSI guard: a corpus with no odd ids
            # must audit as FPR 0, not throw on the division
        )
    )


def heavy_hitters_audit(
    df: DataFrame,
    n_parts: int = 8,
    k: int = 32,
    top_n: int = 20,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Parallel SpaceSaving / Misra-Gries heavy hitters with an exact
    audit — the TOP-K member of the mergeable-sketch family
    (count_min = point frequency, hll = cardinality, hdr = quantiles,
    kmv = distinct sample, bloom = membership): the summary every
    100 TB job runs FIRST to find its hot keys, because the hot-key
    list is what the skew policies (salting — user_points_salted;
    AQE skew-join splitting) consume.

    Mechanism (the clip formulation of Misra-Gries, a.k.a. parallel
    SpaceSaving merge, Agarwal et al. 2013 "Mergeable summaries"):
    tokens are split into ``n_parts`` deterministic sub-multisets by
    ``pmod(doc_id, n_parts)`` (content-independent, so terms spread
    across parts); each part keeps only the terms whose count exceeds
    its (k+1)-th largest count t_p, clipped down by t_p
    (``w = c - t_p``) — at most k survivors per part, each an
    UNDER-estimate by at most t_p.  Summed across parts:
    ``est <= exact <= est + Σ t_p`` — the one-sided sandwich this head
    emits as checked DATA per top-``top_n`` term (est, exact count,
    err, the Σ t_p bound, and the invariant bit), all BIGINT
    arithmetic a SQL oracle replays exactly.

    100 TB shape: the per-part summary is ≤ k rows HOWEVER large the
    part (the clip is the compaction); the merge handles
    ``n_parts × k`` rows, and the final top-n window sorts only those.
    The exact arm (a full term group-by) exists for the audit only —
    production ships the summary and drops the exact arm, exactly like
    the other sketch audits.  Row-number (not rank) breaks count ties
    by term, so t_p and the survivor set are deterministic under any
    execution order.
    """
    tok = df.select(
        F.pmod(F.col(id_col), F.lit(n_parts)).alias("p"),
        F.explode(_tokens(content_col)).alias("term"),
    )
    pc = tok.groupBy("p", "term").agg(F.count(F.lit(1)).alias("c"))
    rn = F.row_number().over(
        Window.partitionBy("p").orderBy(F.col("c").desc(), F.col("term").asc())
    )
    # t_p = the (k+1)-th largest per-part count (0 when a part holds
    # ≤ k distinct terms — its summary is exact)
    thr = (
        pc.withColumn("rn", rn)
        .groupBy("p")
        .agg(
            F.max(F.when(F.col("rn") == k + 1, F.col("c")).otherwise(0)).alias(
                "t_p"
            )
        )
    )
    bound = thr.agg(F.sum("t_p").cast("long").alias("clip_bound"))
    summ = (
        pc.join(thr, "p")
        .where(F.col("c") > F.col("t_p"))
        .groupBy("term")
        .agg(F.sum(F.col("c") - F.col("t_p")).cast("long").alias("est"))
    )
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = summ.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("est").desc(), F.col("term").asc())
        ),
    ).where(F.col("rank") <= top_n)  # single-partition window over ≤ n_parts·k rows
    return (
        top.join(exact, "term")
        .crossJoin(F.broadcast(bound))
        .select(
            "rank",
            "term",
            "est",
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            (F.col("exact_cnt") - F.col("est")).cast("long").alias("err"),
            "clip_bound",
            (
                (F.col("est") <= F.col("exact_cnt"))
                & (F.col("exact_cnt") - F.col("est") <= F.col("clip_bound"))
            )
            .cast("long")
            .alias("ok"),
        )
    )
