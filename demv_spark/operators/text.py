"""Text-analysis operators for large-scale training-data pipelines.

Not part of the reference surface (it has no string analytics) — these
are the BASELINE.json north-star extensions: language-ID, quality
scoring, token counting, document fingerprinting over a `documents`
table (doc_id, text, ...).

All pure column expressions (no UDFs): tokenization is a regex split,
counts are array ops, the fingerprint is md5 over a normalized form —
every operator renders to DuckDB SQL for the oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

# tiny per-language stopword marker sets for the n-gram/stopword
# heuristic (public common stopwords)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "des"],
    "es": ["el", "la", "los", "que", "es", "una", "para", "con"],
}

# whitespace tokenization — same regex class semantics in Spark (Java
# regex) and DuckDB (RE2): double-escaped for the Java string layer
_WS = r"\s+"


def tokens(col: Column | str) -> Column:
    """Whitespace token array of lowercased text. NULL text is
    canonically equivalent to the empty string (one token ['']), so
    NULL-text rows never vanish from explode/join paths and every SQL
    twin can coalesce the same way."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(F.coalesce(c, F.lit("")))), _WS)


def token_count(df: DataFrame, text_col: str = "text", out: str = "n_tokens") -> DataFrame:
    """Whitespace token count. SQL: len(string_split_regex(trim(lower(text)), '\\s+'))."""
    return df.withColumn(out, F.size(tokens(text_col)))


def bpe_token_estimate(
    df: DataFrame, text_col: str = "text", out: str = "n_bpe_est"
) -> DataFrame:
    """BPE-ish subword token estimate: alpha runs count ~1 token per
    4 chars (ceil), digit runs 1 per digit-pair, other non-space chars
    1 each. A cheap deterministic proxy for tokenizer budgeting.

    Expressed as pure length arithmetic so it is engine-portable:
    n_alpha/4 rounded up per run is approximated by
    ceil(total_alpha_chars/4) + punct + ceil(digits/2)."""
    t = F.coalesce(F.col(text_col), F.lit(""))  # NULL ≡ '' engine-wide
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    digit = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    other = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    est = F.ceil(alpha / F.lit(4.0)) + F.ceil(digit / F.lit(2.0)) + other
    return df.withColumn(out, est.cast("long"))


def quality_score(df: DataFrame, text_col: str = "text", out: str = "quality") -> DataFrame:
    """Heuristic document quality in [0,1] from length, punctuation
    density, mean word length, and whitespace ratio — the standard
    pre-training corpus filters, all engine-portable arithmetic:

        len_score   = least(1, n_chars / 500)
        punct_ratio = punct_chars / n_chars
        space_ratio = spaces / n_chars
        word_len    = n_chars_alpha / n_tokens  (clamped into [0,1]
                      by |word_len - 5| / 5 distance from typical)

        quality = 0.4*len_score + 0.3*(1 - least(1, punct_ratio*10))
                  + 0.3*(1 - least(1, abs(alpha/tokens - 5)/5))
    """
    n_chars = F.length(F.col(text_col)).cast("double")
    punct = F.length(F.regexp_replace(F.col(text_col), r"[A-Za-z0-9\s]", "")).cast("double")
    alpha = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", "")).cast("double")
    n_tok = F.size(tokens(text_col)).cast("double")
    len_score = F.least(F.lit(1.0), n_chars / F.lit(500.0))
    punct_score = F.lit(1.0) - F.least(F.lit(1.0), punct / n_chars * F.lit(10.0))
    wordlen_score = F.lit(1.0) - F.least(
        F.lit(1.0), F.abs(alpha / n_tok - F.lit(5.0)) / F.lit(5.0)
    )
    q = F.lit(0.4) * len_score + F.lit(0.3) * punct_score + F.lit(0.3) * wordlen_score
    # 6-dp digitization as floor(q·10⁶ + 0.5)/10⁶ — pure IEEE ops, so
    # any engine computing the same q double gets the same result.
    # ROUND(q, 6) is NOT portable at ties: q is a rational with small
    # denominators (e.g. alpha/n_tok with n_tok = 64 ⇒ exact values
    # like 0.8490625), and engines disagree on x.xxxxxx5 — Spark
    # HALF_UPs the exact binary expansion while DuckDB/np round the
    # float-scaled value (found by the sf0.1 cross-scale gate, doc
    # 1746). floor(+0.5) has no implementation freedom.
    q6 = F.floor(q * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    # empty text would divide by zero (ANSI mode raises) → score 0.0
    return df.withColumn(
        out, F.when(n_chars > 0, q6).otherwise(F.lit(0.0))
    )


def lang_id(
    df: DataFrame,
    text_col: str = "text",
    out: str = "lang_pred",
    markers: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Stopword-marker language ID: per language, count tokens hitting
    that language's marker set; argmax wins, ties broken by language
    code order, no hits → 'und'. One pass, pure array expressions.

    SQL rendering: len(list_filter(tokens, t -> t IN (...))) per
    language + a greatest/CASE argmax."""
    markers = markers or LANG_MARKERS
    toks = tokens(text_col)
    hit_cols = {}
    for lang, words in markers.items():
        arr = F.array(*[F.lit(w) for w in words])
        hit_cols[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    langs = sorted(markers)
    best = None
    for lang in langs:
        score = hit_cols[lang]
        if best is None:
            best = (F.lit(lang), score)
        else:
            prev_lang, prev_score = best
            better = score > prev_score
            best = (
                F.when(better, F.lit(lang)).otherwise(prev_lang),
                F.when(better, score).otherwise(prev_score),
            )
    pred = F.when(best[1] > 0, best[0]).otherwise(F.lit("und"))
    return df.withColumn(out, pred)


def chunk_tokens(
    df: DataFrame,
    text_col: str = "text",
    n: int = 8,
    id_col: str = "doc_id",
    pos_col: str = "chunk_pos",
    out: str = "chunk",
) -> DataFrame:
    """Fixed-width token chunking: one output row per ``n``-token
    window (last chunk ragged) — the packing primitive for
    context-window batching of pre-training corpora.

    Pure column expressions: tokens are projected ONCE into a real
    column before the per-chunk lambda (referencing the tokenize
    subtree inside the lambda would re-evaluate it per element), then
    transform+slice builds the chunk array and posexplode emits
    (position, chunk) rows — map-only, no shuffle.

    SQL twin: per-row unnest over range(ceil(len(tokens)/n)) with
    list slicing (DuckDB ``t[a:b]`` is 1-based inclusive).
    """
    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    n_chunks = F.ceil(F.size("__toks") / F.lit(n)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(F.col("__toks"), i * n + 1, n), " "),
    )
    # tokens('') == [''] so size >= 1 and sequence(0, n_chunks-1) is
    # always ascending (sequence(0,-1) would be the DESCENDING [0,-1])
    return toked.select(id_col, F.posexplode(chunks).alias(pos_col, out))


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    delim: str = "\n",
    out: str = "clean_text",
) -> DataFrame:
    """C4-style boilerplate removal: drop every line whose normalized
    form occurs in at least ``min_docs`` distinct documents, and
    reassemble the survivors in original order.

    Plan: posexplode lines (linear) → line-frequency census (one
    groupBy on the normalized line; partial aggregation means the
    shuffle carries (line, doc_id) pairs pre-deduped per partition) →
    left-anti join against the frequent-line set (shuffled hash join
    on the line key — the frequent set is NOT assumed small; on web
    corpora boilerplate tables are huge) → groupBy doc reassembly via
    sort-by-position array_join. Documents reduced to nothing come
    back as '' (left join from the input keeps every doc).
    """
    import re as _re

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(delim))).alias(
            "__pos", "__line"
        ),
    ).withColumn("__key", F.trim(F.lower(F.col("__line"))))
    frequent = (
        lines.groupBy("__key")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("__key")
    )
    kept = lines.join(frequent, "__key", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            delim,
        ).alias(out)
    )
    return df.join(reassembled, id_col, "left").select(
        *df.columns, F.coalesce(F.col(out), F.lit("")).alias(out)
    )


def top_tokens(df: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Global token-frequency top-k with deterministic ties (count
    desc, token asc) — corpus vocabulary profiling. Partial+final hash
    aggregation then TakeOrdered(k): the full vocabulary never sits on
    one node, only each partition's top-k candidates reach the driver.
    """
    return (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(k)
    )


def token_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary statistics: per token, total occurrences
    (``tf``) and document frequency (``df_docs``). One explode + one
    aggregation keyed on (doc, token) then token — the (doc, token)
    pre-aggregate acts as the map-side combine for df_docs, so the
    token shuffle carries distinct doc-token rows, not raw
    occurrences. Stopword-grade hot tokens skew the token key; AQE
    skew handling splits them (the per-(doc,token) step already capped
    each key's rows at n_docs)."""
    t = (
        df.select(id_col, F.explode(tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
    )
    per_doc = t.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    return per_doc.groupBy("token").agg(
        F.sum("tf").alias("tf"), F.count(F.lit(1)).alias("df_docs")
    )


def corpus_frequency_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean corpus token frequency — the integer-exact
    stand-in for LM-perplexity quality filtering (CCNet-style): fluent
    text is built from common tokens, gibberish from rare ones. Score
    = sum_t count(t) / (n_tok · total_tokens), every term an exact
    long, ONE IEEE division at the end — a bit-reproducible double in
    any engine. Docs with no tokens drop out.

    Plan: explode → token-count aggregate → join occurrences back on
    token → per-doc aggregate. The token join is the hot-key hazard
    (stopwords); AQE skew-join splits it, and the frequency table is
    vocabulary-sized — broadcast it when your vocabulary fits.
    Columns: id_col, n_tok, sum_tf, cf_score."""
    t = (
        df.select(id_col, F.explode(tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
    )
    ctf = t.groupBy("token").agg(F.count(F.lit(1)).alias("tok_n"))
    total = t.select(F.count(F.lit(1)).alias("total"))
    return (
        t.join(ctf, "token")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col, "total")
        .agg(F.count(F.lit(1)).alias("n_tok"), F.sum("tok_n").alias("sum_tf"))
        .select(
            id_col,
            "n_tok",
            "sum_tf",
            (F.col("sum_tf") / (F.col("n_tok") * F.col("total")))
            .alias("cf_score"),
        )
    )


def tfidf_keywords(
    df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k distinguishing tokens per document, ranked by tf/df — the
    log-free tf-idf order (log is monotone, so the RANKING is the
    classic tf·idf ranking, without a transcendental the oracle can't
    reproduce bit-for-bit). Ties break on token asc for a total order.

    Plan: per-(doc, token) counts, token-level document frequencies,
    one equi-join on token, one per-doc row_number window. Columns:
    id_col, token, tf, df_docs, rnk."""
    t = (
        df.select(id_col, F.explode(tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
    )
    per_doc = t.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = per_doc.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    ranked = per_doc.join(dfreq, "token").withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(
                (F.col("tf") / F.col("df_docs")).desc(), "token"
            )
        ),
    )
    return ranked.filter(F.col("rnk") <= k).select(
        id_col, "token", "tf", "df_docs", "rnk"
    )


def bm25_topk(
    df: DataFrame,
    query_terms: "list[str]",
    top_k: int = 10,
    k1: str = "1.2",
    b: str = "0.75",
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """BM25 ranked retrieval: the ``top_k`` documents for a bag of
    query terms, scored with INTEGER-EXACT fixed-point arithmetic —
    the engine's transcendental-free signature (same philosophy as
    the integer-exact AUC). Robertson idf and the tf
    saturation are both rational in (tf, df, dl, N, T) once k1 and b
    are rationals (parsed exactly via Fraction(str(k1))), so each
    per-term score is ONE integer division

        score_fx = (scale·(2N−2df+1)·tf·(k1n+k1d)·bd·T)
                   div ((2df+1)·(k1d·bd·T·tf + k1n·(bd−bn)·T
                                 + k1n·bn·dl·N))

    computed in DECIMAL(38,0) (fits to ~1e36, i.e. beyond 10^11 docs
    × 10^14 tokens), quantized at 1/scale relative precision — the
    idf uses ln-free rational Robertson weighting ((N−df+.5)/(df+.5))
    directly; ln is monotone per term, so this changes multi-term sums
    by a documented monotone reweighting, never by float nondeterminism.

    Plan: map-side ``isin`` filter to query terms (only query-term
    postings ever shuffle), one (doc, term) count, a broadcast-sized
    per-term df table, one doc-keyed join against document lengths,
    and a TakeOrderedAndProject top-k — no global sort, no UDF.
    Output: (id_col, score_fx long, n_terms long), ties broken by
    id asc for a total order."""
    from fractions import Fraction

    k1f, bf = Fraction(str(k1)), Fraction(str(b))
    k1n, k1d = k1f.numerator, k1f.denominator
    bn, bd = bf.numerator, bf.denominator
    # corpus tokens are lowercased by tokens() — normalize the query
    # bag through the same canon so "Spark" matches; duplicates
    # collapse (a repeated query term does not double-score)
    terms = sorted({str(t).strip().lower() for t in query_terms} - {""})
    if not terms:
        raise ValueError("query_terms must be non-empty")

    toks = df.select(id_col, F.explode(tokens(text_col)).alias("token")).filter(
        F.col("token") != ""
    )
    # doc length is a ROW-LOCAL array size — the old explode+groupBy
    # shape shuffled the full token multiset just to count it (round
    # 13, guide §2.4: remove the exchange outright). Docs with zero
    # tokens get dl = 0 instead of no row; dl is only consumed through
    # the inner join against tf (such docs match no terms) and the Σdl
    # total (0 contributes nothing), so results are identical.
    dl = df.select(
        id_col,
        F.size(
            F.filter(tokens(text_col), lambda t: t != F.lit(""))
        ).cast("long").alias("dl"),
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("N"))
    # T = Σ dl: derived from the dl census, not a second full
    # tokenize pass over the corpus
    n_toks = dl.agg(F.sum("dl").cast("long").alias("T"))
    tf = (
        toks.filter(F.col("token").isin(terms))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))

    j = (
        tf.join(F.broadcast(dft), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(n_toks))
    )
    scored = _bm25_scored(j, scale, k1n, k1d, bn, bd)
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("__sc").cast("long").alias("score_fx"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
        .orderBy(F.desc("score_fx"), F.col(id_col))
        .limit(top_k)
    )


def _bm25_scored(j, scale, k1n, k1d, bn, bd):
    """Attach the fixed-point per-(doc, term) BM25 score ``__sc`` to a
    frame carrying (tf, df_docs, dl, N, T). Spark's IntegralDivide
    (`div`) has no DSL form — the two DECIMAL(38,0) operands route
    through named columns; `div` returns LONG, exact while the
    quotient fits signed-64 (BM25 quotients are ~scale·idf·(k1+1),
    far below it), and truncation == floor for the all-positive
    operands here."""

    def dec(x):
        return x.cast("decimal(38,0)")

    num = (
        dec(F.lit(scale))
        * dec(2 * F.col("N") - 2 * F.col("df_docs") + 1)
        * dec(F.col("tf"))
        * dec(F.lit(k1n + k1d))
        * dec(F.lit(bd))
        * dec(F.col("T"))
    )
    den = dec(2 * F.col("df_docs") + 1) * (
        dec(F.lit(k1d * bd)) * dec(F.col("T")) * dec(F.col("tf"))
        + dec(F.lit(k1n * (bd - bn))) * dec(F.col("T"))
        + dec(F.lit(k1n * bn)) * dec(F.col("dl")) * dec(F.col("N"))
    )
    return (
        j.withColumn("__num", num)
        .withColumn("__den", den)
        .withColumn("__sc", F.expr("__num div __den"))
        .drop("__num", "__den")
    )


def bm25_topk_batch(
    df: DataFrame,
    queries,
    top_k: int = 10,
    k1: str = "1.2",
    b: str = "0.75",
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
    prune_salt: int = 16,
) -> DataFrame:
    """Multi-query BM25 — the production retrieval shape: score MANY
    query bags in one corpus pass. ``queries`` is a DataFrame
    (query_id, term) or a dict {query_id: [terms]}; terms normalize
    through the token canon (lowercase, duplicates collapse). The
    scoring is the same integer-exact fixed point as ``bm25_topk``.

    Scale shape: the postings filter is a broadcast semi-join against
    the union of query terms (only matching postings ever shuffle);
    per-term df and doc length compute ONCE regardless of query
    count; the per-query fan-out is a broadcast join on term; and the
    per-query top-k is the lossless two-phase salt-pruned rank
    (``windowed_heavy_hitters``'s shape) — a local row_number within
    (query_id, hash(doc) mod prune_salt) keeps k candidates per salt
    (every true top-k doc wins its own salt partition), then the
    final rank orders ≤ prune_salt·k rows per query. No task ever
    ranks a query's full match set.

    Output: (query_id, id_col, score_fx long, n_terms long,
    rank ≤ top_k), ties broken by id asc."""
    from fractions import Fraction

    k1f, bf = Fraction(str(k1)), Fraction(str(b))
    k1n, k1d = k1f.numerator, k1f.denominator
    bn, bd = bf.numerator, bf.denominator
    if isinstance(queries, dict):
        # normalize dict input in Python with the SAME canon as the
        # single-query operator (str.strip().lower()), and raise on a
        # query whose terms all normalize away — mirroring
        # bm25_topk's ValueError instead of silently dropping it
        rows = []
        for qid, ts in queries.items():
            terms = sorted({str(t).strip().lower() for t in ts} - {""})
            if not terms:
                raise ValueError(f"query {qid!r} has no non-empty terms")
            rows.extend((qid, t) for t in terms)
        if not rows:
            raise ValueError("queries must be non-empty")
        qdf = df.sparkSession.createDataFrame(rows, ["query_id", "term"])
    else:
        qdf = queries
    # DataFrame input normalizes plan-side with UNICODE whitespace
    # semantics ((?U) turns Java \s into \p{IsWhite_Space}, matching
    # Python str.strip() — NBSP/ideographic-space padded terms behave
    # identically on both input paths); a query whose terms all
    # normalize away is data-dependent and yields no rows for that
    # query (documented — can't raise cheaply inside a plan)
    qdf = (
        qdf.select(
            "query_id",
            F.lower(
                F.regexp_replace(F.col("term"), r"(?U)^\s+|\s+$", "")
            ).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    vocab = qdf.select("token").distinct()

    toks = df.select(id_col, F.explode(tokens(text_col)).alias("token")).filter(
        F.col("token") != ""
    )
    # row-local dl, not explode+groupBy — see bm25_topk (round 13)
    dl = df.select(
        id_col,
        F.size(
            F.filter(tokens(text_col), lambda t: t != F.lit(""))
        ).cast("long").alias("dl"),
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("N"))
    n_toks = dl.agg(F.sum("dl").cast("long").alias("T"))
    tf = (
        toks.join(F.broadcast(vocab), "token", "left_semi")
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))

    j = (
        tf.join(F.broadcast(dft), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(n_toks))
        .join(F.broadcast(qdf), "token")  # fan out to queries
    )
    per_query = (
        _bm25_scored(j, scale, k1n, k1d, bn, bd)
        .groupBy("query_id", id_col)
        .agg(
            F.sum("__sc").cast("long").alias("score_fx"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
    )
    salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(prune_salt))
    w_local = Window.partitionBy("query_id", salt).orderBy(
        F.desc("score_fx"), F.asc(id_col)
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.desc("score_fx"), F.asc(id_col)
    )
    return (
        per_query.withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") <= top_k)
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= top_k)
        .drop("__lr")
    )


# PII patterns shared by redact_pii and its oracle — restricted to
# the regex subset Java (Spark) and RE2 (DuckDB) interpret
# identically: character classes, bounded repeats, \b; no
# lookaround, no backreferences. Order matters: emails first (they
# contain dots/digits the narrower patterns could nibble at).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+?\d[\d\- ]{7,}\d",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    kinds: tuple = ("email", "ip", "phone"),
    out: str = "text_redacted",
) -> DataFrame:
    """Mask emails / IPv4s / phone-shaped runs with ``<KIND>`` tokens
    and count the hits per kind — the pre-training scrub pass. Pure
    ``regexp_replace``/``regexp_count`` column expressions, applied in
    PII_PATTERNS order so overlapping matches resolve identically in
    Spark and the DuckDB oracle. Adds ``{kind}_n`` counts (exact ints,
    counted on the ORIGINAL text) and the redacted text column."""
    cols = [df[c] for c in df.columns]
    t = F.coalesce(F.col(text_col), F.lit(""))  # NULL ≡ '' engine-wide
    counts = [
        F.regexp_count(t, F.lit(PII_PATTERNS[k])).alias(f"{k}_n")
        for k in kinds
    ]
    red = t
    for k in kinds:
        red = F.regexp_replace(red, PII_PATTERNS[k], f"<{k.upper()}>")
    return df.select(*cols, *counts, red.alias(out))


def gopher_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/MassiveText-style repetition-free quality gates (Rae et
    al. 2021, public) as ONE fused scan: per doc, exact integer
    counters and boolean rule flags, plus the conjunction ``keep``.

    Every threshold is evaluated in cross-multiplied INTEGER
    arithmetic (e.g. mean word length in [3,10] ⇔ 3·words ≤ chars ≤
    10·words), so the flags are bit-stable across engines — no float
    ratio ever materializes. Rules: word count in [50, 100000], mean
    word length in [3, 10], symbol(#/…)-to-word ratio < 0.1, ≥80% of
    words contain a letter, ≥2 canonical English stop words present.
    """
    toks = F.filter(tokens(text_col), lambda t: t != "")
    n_words = F.size(toks)
    n_chars = F.length(F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")), r"\s+", ""))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    symbols = F.regexp_count(F.coalesce(F.col(text_col), F.lit("")), F.lit(r"#|\.\.\."))
    stops = F.array([F.lit(s) for s in
                     ("the", "be", "to", "of", "and", "that", "have", "with")])
    stop_hits = F.size(F.filter(stops, lambda s: F.array_contains(toks, s)))
    flags = {
        "flag_word_count": (n_words >= 50) & (n_words <= 100_000),
        "flag_mean_word_len": (3 * n_words <= n_chars) & (n_chars <= 10 * n_words),
        "flag_symbol_ratio": 10 * symbols < n_words,
        "flag_alpha_words": 5 * alpha_words >= 4 * n_words,
        "flag_stop_words": stop_hits >= 2,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return df.select(
        id_col,
        n_words.alias("n_words"),
        n_chars.alias("n_chars_nospace"),
        alpha_words.alias("alpha_words"),
        symbols.alias("symbols"),
        stop_hits.alias("stop_hits"),
        *[c.alias(k) for k, c in flags.items()],
        keep.alias("keep"),
    )


def normalized_fingerprint(col: Column | str) -> Column:
    """md5 of whitespace/case-normalized text — THE content-identity
    expression (fingerprint, exact dedup, corpus_clean's dup window
    all share it, so normalization can never diverge between them).
    NULL text fingerprints as the empty string (the engine-wide
    NULL ≡ '' canonicalization), so NULL-keyed rows survive the
    dedup joins identically in both engines.
    SQL: md5(regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g'))."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.trim(F.lower(F.coalesce(c, F.lit("")))), _WS, " ")
    return F.md5(norm.cast("binary"))


def fingerprint(df: DataFrame, text_col: str = "text", out: str = "fp") -> DataFrame:
    """Deterministic content fingerprint: md5 of the whitespace- and
    case-normalized text. Identical in Spark (F.md5) and DuckDB (md5)
    → exact-dedup key that survives formatting noise."""
    return df.withColumn(out, normalized_fingerprint(text_col))


def corpus_profile(
    df: DataFrame,
    group_cols: tuple = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Per-(source, lang, …) corpus profile: doc count, token sum,
    mean quality — the dataset-card rollup, ONE scan (token counts and
    quality are scan-side arithmetic feeding a single partial+final
    aggregate). Quality is summed in DECIMAL for cross-engine hash
    parity (compat.stable_avg: exact, order-independent sum, one
    deterministic rounding back to double).

    ``sum_q6`` is the exact-integer twin of ``mean_quality``: per-row
    quality is already rounded to 6 dp (quality_score), so
    ``round(quality·10⁶, 0)`` recovers the exact integer each row's
    quality encodes (the value is within float-noise of an integer →
    nearest-integer rounding has a ~0.5 margin, unlike floor of an
    arbitrary double which flips on a 1-ulp difference). Summing those
    BIGINTs is exact and order-free; mean_quality = sum_q6/(n_docs·10⁶).
    Emit sum_q6 (not mean_quality) where cross-engine hash stability
    matters."""
    from demv_spark.functions.compat import stable_avg

    with_feats = quality_score(token_count(df, text_col), text_col)
    return with_feats.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        stable_avg("quality").alias("mean_quality"),
        F.sum(
            F.floor(F.col("quality") * F.lit(1000000.0) + F.lit(0.5))
        ).alias("sum_q6"),
    )


def lang_confusion(
    df: DataFrame, truth_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Confusion census of the lang-ID heuristic against a ground-
    truth language column: (truth, predicted, n). The eval query for
    the classifier-free language filter."""
    return (
        lang_id(df, text_col)
        .groupBy(F.col(truth_col).alias("lang_true"), F.col("lang_pred"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def repetition_score(
    df: DataFrame, text_col: str = "text", n: int = 2, out: str = "rep_score"
) -> DataFrame:
    """Intra-document repetition ratio: 1 − |distinct n-grams| /
    |n-grams| — the C4-style filter for boilerplate-heavy or looping
    documents (0 = no repetition, →1 = one phrase repeated). Pure
    array arithmetic, map-only. Documents with fewer than n tokens
    score 0.0."""
    from demv_spark.operators.dedup import shingles

    sh = shingles(text_col, n)
    total = F.size(sh)
    score = F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(sh)) / total,
    ).otherwise(F.lit(0.0))
    return df.withColumn(out, score)


def pack_sequential(
    df: DataFrame,
    size_col: str,
    capacity: int,
    part_cols: tuple = ("source",),
    order_cols: tuple = ("doc_id",),
    out: str = "pack_id",
) -> DataFrame:
    """Sequential-fill packing: assign items (docs/chunks) to fixed-
    capacity packs by running token count — the shard/context-window
    packing primitive. Item i goes to pack floor(start_offset /
    capacity) where start_offset is the cumulative size of everything
    before it in (part, order); a pack can overflow by at most one
    item (greedy fill, deterministic, no state).

    One window per partition key — pack assignment never shuffles item
    payloads twice. Partition by a real grouping column (source,
    shard, language); a single global partition would serialize the
    cumsum.
    """
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(*part_cols)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    start = F.sum(size_col).over(w) - F.col(size_col)
    return df.withColumn(out, F.floor(start / F.lit(capacity)).cast("int"))


def corpus_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_quality: float = 0.5,
    max_repetition: float = 0.5,
    langs: tuple = ("en",),
    rep_n: int = 2,
) -> DataFrame:
    """The fused corpus-hygiene pass: length, quality, language,
    repetition, and exact-duplicate checks in ONE job — each filter
    alone is a map-only expression, so composing them costs one scan
    plus a single fingerprint shuffle for the dup check (the
    reference-pipeline shape: N separate filter tools each re-reading
    the corpus is the anti-pattern at 100 TB).

    Adds per-doc signal columns, ``keep`` (all checks pass; duplicates
    keep their min-id representative), and ``reasons`` — a ','-joined
    list of failed checks, '' when clean. Thresholds are the standard
    pre-training defaults, all overridable.
    """
    signals = repetition_score(
        lang_id(quality_score(token_count(df, text_col), text_col), text_col),
        text_col,
        n=rep_n,
        out="rep_score",
    )
    w = Window.partitionBy(normalized_fingerprint(text_col)).orderBy(id_col)
    signals = signals.withColumn(
        "is_dup", (F.row_number().over(w) > 1).cast("int")
    )
    checks = [
        ("too_short", F.col("n_tokens") < min_tokens),
        ("too_long", F.col("n_tokens") > max_tokens),
        ("low_quality", F.col("quality") < min_quality),
        ("repetitive", F.col("rep_score") > max_repetition),
        ("bad_lang", ~F.col("lang_pred").isin(*langs)),
        ("duplicate", F.col("is_dup") == 1),
    ]
    reasons = F.concat(
        *[
            F.when(cond, F.array(F.lit(name))).otherwise(
                F.array().cast("array<string>")
            )
            for name, cond in checks
        ]
    )
    return signals.withColumn("reasons", F.array_join(reasons, ",")).withColumn(
        "keep", (F.col("reasons") == "").cast("int")
    )


# ---------------------------------------------------------------------------
# BPE tokenizer: distributed vocabulary learning + subword tokenization
# ---------------------------------------------------------------------------

def learn_bpe(
    df: DataFrame,
    n_merges: int = 200,
    text_col: str = "text",
    min_word_freq: int = 1,
    max_vocab: int = 1_000_000,
) -> list[tuple[str, str]]:
    """Learn a byte-pair-encoding merge list from the corpus — the
    real tokenizer-training step of an LLM data pipeline (Sennrich
    et al. 2016 `learn_bpe`), structured the way BPE actually
    distributes: the algorithm only ever consumes WORD FREQUENCIES,
    so the single corpus-sized operation is one word-census aggregate
    (explode → groupBy → count, the same shuffle as token_frequencies)
    and the merge loop runs driver-side over the vocabulary-sized
    census — at 100 TB the census is |unique words|, not |corpus|.

    ``max_vocab`` is the tokenizer's vocab-candidate budget: the
    census is capped to the top-V words BY FREQUENCY in Spark (one
    TakeOrderedAndProject — no global sort materialization) before
    anything reaches the driver, so the collect is ≤ V rows even on
    web-scale text where |unique words| is 10⁸–10⁹ (VERDICT r3:
    the uncapped collect was the repo's one driver-OOM hazard).
    Deterministic at the cutoff: ties order lexicographically. Tail
    words beyond V contribute no pair counts — standard practice
    (frequency-truncated BPE corpora), not an approximation knob.

    Words are split to characters plus a terminal '</w>' marker;
    each iteration merges the most frequent adjacent symbol pair
    (ties broken lexicographically for determinism — a pure function
    of the corpus, reproducible across partitionings). Returns the
    ordered merge list for ``bpe_tokenize``.

    CEILING: the merge loop is driver-side and linear in the census
    (each of ``n_merges`` iterations rescans up to ``max_vocab`` word
    entries), so ``max_vocab`` is capped at 2,000,000 — past that the
    driver loop serializes into hours regardless of cluster size.
    Corpus SIZE is unbounded (only the word census ever leaves Spark);
    it is the candidate-vocabulary budget that has a hard driver
    ceiling. Raise ``min_word_freq`` instead of the cap: on web-scale
    text the frequency tail is hapax noise BPE should not see."""
    from collections import Counter

    if int(max_vocab) > 2_000_000:
        raise ValueError(
            f"max_vocab={max_vocab} exceeds the 2,000,000 driver-loop "
            "ceiling: the merge loop rescans the word census per merge "
            "on the driver, so larger budgets serialize for hours — "
            "raise min_word_freq to shrink the candidate vocabulary "
            "instead"
        )

    census = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_word_freq)
        .orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(int(max_vocab))
        .collect()
    )
    # collapse identical char sequences up front (distinct words can
    # only merge later; starting collapsed matches the naive loop's
    # new_vocab.get(...)+n accumulation exactly — pair counts are sums
    # over entries either way)
    vocab: dict[tuple[str, ...], int] = {}
    for r in census:
        seq = tuple(r["w"]) + ("</w>",)
        vocab[seq] = vocab.get(seq, 0) + r["n"]
    words: list[list[str]] = [list(seq) for seq in vocab]
    freqs: list[int] = [n for n in vocab.values()]

    # INDEXED incremental merge loop (the standard subword-nmt
    # structure, Sennrich et al. 2016): exact pair counts plus a
    # pair → {word_idx} index, so each merge rescans only the words
    # that CONTAIN the winning pair instead of the whole census —
    # O(touched symbols) per merge, which is what makes a 32k-merge
    # production vocabulary tractable where the naive
    # O(n_merges · Σ|word|) loop serializes for hours. Counts are
    # maintained EXACTLY (full subtract-old/add-new per touched
    # word), so the (max count, lexicographically smallest) argmax
    # — and therefore the returned merge list — is identical to the
    # naive recompute-per-iteration loop (pinned by
    # tests/test_text.py's equivalence property test).
    import heapq

    pairs: Counter = Counter()
    index: dict[tuple[str, str], set[int]] = {}
    for wi, (seq, n) in enumerate(zip(words, freqs)):
        for a, b in zip(seq, seq[1:]):
            pairs[(a, b)] += n
            index.setdefault((a, b), set()).add(wi)
    # lazy-invalidation max-heap over (−count, pair): an O(|live
    # pairs|) argmax scan per merge is the 32k-merge wall (160k live
    # pairs × 32k merges). Every count CHANGE pushes a fresh entry;
    # pops discard entries whose count is stale. Heap order
    # (−count, pair) pops the max count with the lexicographically
    # SMALLEST pair first — exactly the naive loop's
    # min(p for p with max count) tie-break, so the merge list is
    # unchanged (equivalence property test).
    heap: list[tuple[int, tuple[str, str]]] = [
        (-n, p) for p, n in pairs.items()
    ]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negn, best = heapq.heappop(heap)
        cur = pairs.get(best)
        if cur is None or -negn != cur:
            continue  # stale entry
        merges.append(best)
        merged = best[0] + best[1]
        touched = index.pop(best, set())
        for wi in touched:
            seq = words[wi]
            n = freqs[wi]
            # subtract this word's old adjacent pairs
            for a, b in zip(seq, seq[1:]):
                p = (a, b)
                left = pairs[p] - n
                if left <= 0:
                    del pairs[p]
                    index.pop(p, None)
                else:
                    pairs[p] = left
                    heapq.heappush(heap, (-left, p))
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == best[0] and seq[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            words[wi] = out
            # add the rewritten word's pairs back
            for a, b in zip(out, out[1:]):
                p = (a, b)
                grown = pairs.get(p, 0) + n
                pairs[p] = grown
                heapq.heappush(heap, (-grown, p))
                index.setdefault(p, set()).add(wi)
    return merges


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned BPE merge list: whitespace words → subword
    arrays, applying merges in rank order per word. Runs as an
    Arrow-batched ``mapInPandas`` kernel (iterative per-word pair
    merging is genuinely imperative — the documented exception to the
    no-Python policy) with a per-batch word cache, so each DISTINCT
    word in a batch is encoded once regardless of frequency. The
    merge table is closure-captured (vocabulary-scale, broadcast with
    the task)."""
    import pandas as pd

    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    ranks = {tuple(m): i for i, m in enumerate(merges)}
    # build a FRESH StructType: StructType.add mutates in place, which
    # would corrupt the input DataFrame's resolved schema
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out, ArrayType(StringType()))]
    )

    def encode_word(w: str) -> list[str]:
        seq = list(w) + ["</w>"]
        while len(seq) > 1:
            best_rank, best_i = None, None
            for i, pair in enumerate(zip(seq, seq[1:])):
                r = ranks.get(pair)
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_i is None:
                break
            seq[best_i : best_i + 2] = [seq[best_i] + seq[best_i + 1]]
        return seq

    def run(it):
        for pdf in it:
            cache: dict[str, list[str]] = {}
            col = []
            for text in pdf[text_col]:
                toks = []
                for w in (text or "").lower().strip().split():
                    if w not in cache:
                        cache[w] = encode_word(w)
                    toks.extend(cache[w])
                col.append(toks)
            pdf = pdf.copy()
            pdf[out] = pd.Series(col, index=pdf.index)
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    window: int = 8,
    out: str = "fp",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    SIGMOD'03): hash every word ``n``-gram, then keep the MINIMUM hash
    of each sliding ``window`` of consecutive shingle hashes. The
    selected set is a small, position-robust fingerprint: any shared
    substring of at least ``window + n − 1`` tokens between two
    documents is guaranteed to contribute at least one IDENTICAL
    fingerprint to both — the standard plagiarism/overlap detector,
    and the rolling-hash flavor of the fingerprint family
    (``fingerprint``/``normalized_fingerprint`` cover the whole-doc
    hash; this covers local overlap).

    Pure array algebra (transform / slice / array_min / distinct) over
    the portable md5 hash — map-only until the final explode, one scan
    at any corpus size, and the whole chain re-derives in SQL for the
    oracle. Output: one (id, fp) row per distinct selected hash.
    """
    from demv_spark.functions.compat import portable_hash
    from demv_spark.operators.dedup import _window_starts, shingles

    sh = shingles(F.coalesce(F.col(text_col), F.lit("")), n)
    hashes = F.transform(sh, portable_hash)

    # bind the hash array to a lambda variable so it is evaluated ONCE
    # per row: referencing the `hashes` subexpression directly inside
    # the window-min lambda makes Catalyst inline it at every window
    # position (CollapseProject), re-hashing all L shingles L times —
    # O(L²·md5) instead of O(L·w) (measured 177s → 7s at sf0.1)
    def _winnow(h):
        m = F.size(h) - F.lit(window - 1)
        mins = F.transform(
            _window_starts(m), lambda j: F.array_min(F.slice(h, j, window))
        )
        # short docs (fewer shingles than the window) fingerprint to
        # the min of what they have, so no document is
        # unfingerprintable
        return F.when(
            (F.size(h) > 0) & (m < 1), F.array(F.array_min(h))
        ).otherwise(mins)

    selected = F.element_at(F.transform(F.array(hashes), _winnow), 1)
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(selected)).alias(out)
    )



def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out: str = "norm_text",
    lowercase: bool = False,
) -> DataFrame:
    """Unicode text hygiene for corpus ingestion: strip C0/DEL control
    characters (tab/newline survive), NFC-normalize (decomposed
    accents → composed codepoints, so visually-identical strings
    hash/dedup identically), collapse horizontal whitespace runs, and
    trim. ``lowercase=True`` adds case folding for dedup keys.

    NFC has no Spark SQL builtin, so that one step runs as an
    Arrow-batched ``mapInPandas`` over ``unicodedata.normalize``
    (vectorized per batch — the sanctioned Python surface); the
    regexp steps stay JVM-side around it. Map-only at any scale.
    Project the payload columns you need BEFORE calling this on wide
    tables — mapInPandas moves whole rows through Arrow.

    DuckDB oracle twin (regexp_replace needs the 'g' flag there;
    Spark's is global by default):
    ``trim(regexp_replace(nfc_normalize(regexp_replace(s,
    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')),
    '[ \\t]+', ' ', 'g'))``.
    """
    import unicodedata

    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    # the output column must be NEW: appending a duplicate field name
    # to the mapInPandas schema would yield an ambiguous-column error
    # (or silent shadowing) downstream — same care as the __pre temp
    if out in df.columns:
        raise ValueError(
            f"normalize_text: output column {out!r} already exists in the "
            f"input — pass a fresh name via out= or drop the column first"
        )
    pre = F.regexp_replace(
        F.coalesce(F.col(text_col), F.lit("")),
        r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]",
        "",
    )
    # uniquified temp name: a user column literally named __pre must
    # not be overwritten and dropped
    tmp = "__pre"
    while tmp in df.columns:
        tmp += "_"
    with_pre = df.withColumn(tmp, pre)
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out, StringType())]
    )

    def run(it):
        for pdf in it:
            col = [unicodedata.normalize("NFC", s) for s in pdf[tmp]]
            pdf = pdf.drop(columns=[tmp]).copy()
            pdf[out] = pd.Series(col, index=pdf.index)
            yield pdf

    normed = with_pre.mapInPandas(run, schema=out_schema)
    post = F.trim(F.regexp_replace(F.col(out), r"[ \t]+", " "))
    if lowercase:
        post = F.lower(post)
    return normed.withColumn(out, post)


# unicode script ranges in the Java-regex ∩ RE2 common syntax
# (\x{...} class ranges evaluate identically in both engines —
# verified cross-engine in tests/test_script_profile.py). Coarse
# main-block ranges, intentionally: script ID for curation routing,
# not full Unicode property support (Java's \p{IsCyrillic} has no
# RE2 twin).
SCRIPT_RANGES: dict[str, str] = {
    "latin": r"[A-Za-z\x{00C0}-\x{024F}]",
    "cyrillic": r"[\x{0400}-\x{04FF}]",
    "greek": r"[\x{0370}-\x{03FF}]",
    "arabic": r"[\x{0600}-\x{06FF}]",
    "hebrew": r"[\x{0590}-\x{05FF}]",
    "devanagari": r"[\x{0900}-\x{097F}]",
    "cjk": r"[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]",
    "hangul": r"[\x{AC00}-\x{D7AF}\x{1100}-\x{11FF}]",
    "digit": r"[0-9]",
}


def script_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document unicode-script census: one ``n_<script>`` count
    per SCRIPT_RANGES entry plus ``script_main`` — the dominant
    script (ties broken by SCRIPT_RANGES order; ``und`` when no
    scripted character at all). The multilingual-curation router:
    documents whose declared language disagrees with their dominant
    script (lang='en' but 80% CJK) are the classic mislabeled-crawl
    failure, and per-script corpus totals are dataset-card numbers.

    Map-only: one regexp_count per script inside a single projection,
    no shuffle, no UDF. SQL twin per script:
    ``len(regexp_extract_all(text, range))``; the dominant script is
    the same CASE cascade (strictly-greater-than-all-later =
    first-maximum semantics) in both engines."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    out = df
    names = list(SCRIPT_RANGES)
    for name in names:
        out = out.withColumn(
            f"n_{name}", F.regexp_count(t, F.lit(SCRIPT_RANGES[name]))
        )
    # first maximum in SCRIPT_RANGES order: script i wins iff its
    # count is > 0, >= every later count, and > every earlier count
    # (earlier ties already won) — expressed as a single CASE walk
    dominant = F.lit("und")
    for i in range(len(names) - 1, -1, -1):
        c = F.col(f"n_{names[i]}")
        cond = c > 0
        for j in range(len(names)):
            if j == i:
                continue
            other = F.col(f"n_{names[j]}")
            cond = cond & (c > other if j < i else c >= other)
        dominant = F.when(cond, F.lit(names[i])).otherwise(dominant)
    return out.withColumn("script_main", dominant)


def vocab_coverage(
    df: DataFrame,
    vocab_sizes: "list[int]",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-budget planning: for each candidate vocabulary size
    V, the EXACT fraction of corpus token occurrences covered by the
    top-V tokens (count desc) — the coverage curve that decides a
    tokenizer's vocab size before an expensive BPE train (pair with
    ``learn_bpe``; ``bpe_token_estimate`` is the per-doc twin).

    Key identity: equal-count tokens are interchangeable for the
    coverage SUM, so no per-token order is ever materialized — only
    the count CENSUS (one row per distinct count value, O(√corpus)
    rows by the Zipf tail) is ordered, and its prefix sums are
    bucketed by the count's exact bit length (≤64 buckets, the
    ``auc_exact`` trick via ``length(bin(n))`` — integer-exact, no
    float log) so no single global-sort task exists at any scale.
    coverage(V) then reads off the census: full count-groups whose
    cumulative token rank fits under V, plus a pro-rata slice of the
    boundary group.

    Columns: v, n_vocab (tokens actually taken, = min(V, |vocab|)),
    covered, total (exact longs), coverage (covered/total — ONE IEEE
    division, bit-reproducible on any engine).
    """
    sizes = [int(v) for v in vocab_sizes]
    if not sizes or any(v < 1 for v in sizes) or len(set(sizes)) != len(sizes):
        raise ValueError(
            f"vocab_sizes must be distinct positive ints (got {vocab_sizes})"
        )
    spark = df.sparkSession
    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    census = counts.groupBy("n").agg(F.count(F.lit(1)).alias("k"))
    # exact descending-count bucket: length(bin(n)) = floor(log2 n)+1
    census = census.withColumn(
        "__bk", (F.lit(64) - F.length(F.bin("n"))).cast("int")
    )
    w_local = (
        Window.partitionBy("__bk")
        .orderBy(F.desc("n"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_cum = F.coalesce(F.sum("k").over(w_local), F.lit(0))
    totals = census.groupBy("__bk").agg(F.sum("k").alias("__bn"))
    w_off = (
        Window.partitionBy()
        .orderBy("__bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__bn").over(w_off), F.lit(0))
    ).drop("__bn")
    cum = census.withColumn("__lc", local_cum).join(
        F.broadcast(offsets), "__bk"
    ).withColumn("cum_k", (F.col("__lc") + F.col("__off")).cast("long"))
    vs = spark.createDataFrame([(v,) for v in sizes], "v int")
    taken = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("k"), F.col("v").cast("long") - F.col("cum_k")),
    )
    out = (
        cum.crossJoin(F.broadcast(vs))
        .groupBy("v")
        .agg(
            F.sum(taken).alias("n_vocab"),
            F.sum(taken * F.col("n")).alias("covered"),
            F.sum(F.col("k") * F.col("n")).alias("total"),
        )
    )
    return out.withColumn("coverage", F.col("covered") / F.col("total"))


def packing_efficiency(
    df: DataFrame,
    seq_lens: "list[int]",
    text_col: str = "text",
) -> DataFrame:
    """Sequence-length planning: for each candidate training sequence
    length L, the EXACT padding waste of pad-to-L batching — each
    document costs ceil(n_tokens/L) sequences of L slots — against
    the cross-document packed ideal (``pack_sequential``). The
    seq-len twin of ``vocab_coverage``: run both before committing a
    tokenizer/seq-len budget to a 100 TB train.

    Map-only per document (token count + one integer ceil-div per L,
    broadcast literal lengths), then ONE partial-aggregating census —
    no shuffle carries more than |seq_lens| rows. All counts are
    exact longs (``div`` integer arithmetic, never float ceil);
    ``util`` = n_tokens/n_slots is the single IEEE division.

    Columns: seq_len, n_docs, n_tokens, n_seqs, n_slots, waste, util.
    Zero-token documents cost zero sequences; NULL text is the empty
    document (the ``tokens`` contract).
    """
    sizes = [int(v) for v in seq_lens]
    if not sizes or any(v < 1 for v in sizes) or len(set(sizes)) != len(sizes):
        raise ValueError(
            f"seq_lens must be distinct positive ints (got {seq_lens})"
        )
    spark = df.sparkSession
    n = F.size(F.filter(tokens(text_col), lambda t: t != "")).cast("long")
    ls = spark.createDataFrame([(v,) for v in sizes], "seq_len int")
    per_doc = df.select(n.alias("__n")).crossJoin(F.broadcast(ls))
    seqs = F.expr("(__n + seq_len - 1) div seq_len")
    out = per_doc.groupBy("seq_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__n").alias("n_tokens"),
        F.sum(seqs).alias("n_seqs"),
        F.sum(seqs * F.col("seq_len")).alias("n_slots"),
    )
    return out.select(
        "seq_len", "n_docs", "n_tokens", "n_seqs", "n_slots",
        (F.col("n_slots") - F.col("n_tokens")).alias("waste"),
        F.when(F.col("n_slots") > 0, F.col("n_tokens") / F.col("n_slots"))
        .alias("util"),
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    out: str = "text_dedup",
) -> DataFrame:
    """Intra-document line dedup — drop every repeat of a line within
    one document, keeping first occurrences in order (the curation
    pass that strips repeated nav/boilerplate/chorus lines that
    survive document-level dedup because each DOCUMENT is unique).
    Adds ``n_lines``, ``n_unique`` (the repeat ratio is their
    quotient — a strong spam signal on its own) and the deduped text.

    MAP-ONLY: split + array_distinct + array_join in codegen —
    ``array_distinct`` keeps first-occurrence order (pinned in
    tests), which is exactly the keep-first rule. NULL text is
    canonically '' (one empty line), matching the module's NULL
    convention."""
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    uniq = F.array_distinct(lines)
    return (
        df.withColumn("n_lines", F.size(lines))
        .withColumn("n_unique", F.size(uniq))
        .withColumn(out, F.array_join(uniq, "\n"))
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional inverted index: (term, id, positions array<int>,
    tf) — the structure BM25 ranks against, materialized so phrase
    and proximity queries run as joins instead of rescans. Positions
    are 0-based token offsets in tokenization order (the module's
    whitespace/lowercase ``tokens``).

    Scale shape: posexplode (linear) + ONE groupBy on (term, id) —
    partial-aggregated, so the shuffle carries per-(term, doc)
    position lists, never raw text. Write it partitioned/bucketed BY
    TERM and a query's postings fetch is a pruned scan."""
    toks = tokens(text_col)
    posed = df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "term")
    ).filter(F.col("term") != "")
    return (
        posed.groupBy("term", id_col)
        .agg(
            F.sort_array(F.collect_list("pos")).alias("positions"),
            F.count(F.lit(1)).cast("long").alias("tf"),
        )
    )


def phrase_search(
    index: DataFrame,
    phrase: "str | list[str]",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search over a positional ``inverted_index``:
    documents where the phrase's tokens appear CONSECUTIVELY, with
    the exact occurrence count and first position. The complement to
    BM25's bag-of-words ranking (quote queries, benchmark-contam
    phrase probes, boilerplate hunting).

    Plan: ONE pass over the index — an ``isin`` filter on the phrase's
    distinct terms (map-side; a term-partitioned index turns it into
    partition pruning), then one groupBy(doc) pivoting each role's
    position list out with ``max(when(term = tⱼ, positions))`` (the
    index holds exactly one row per (term, doc), so the conditional
    max IS that row's list). Candidate docs must contain ALL terms
    (every pivoted list non-null); adjacency checks run as pure array
    algebra on the position lists: occurrence positions are
    ``filter(pos_0, p -> array_contains(pos_j, p + j) ∀j)``. No
    explode of positions, no window, no UDF. Duplicate phrase terms
    are handled naturally (two roles pivot the same postings row).
    Round 13: this replaces k−1 doc-keyed joins of k separately
    FILTERED READS of the index — when the index is an unmaterialized
    lineage (build-then-search in one DAG), each role re-ran the full
    tokenize→posexplode→aggregate pipeline, k full corpus passes for
    a k-word phrase (guide §2.2/§6.1: share the scan)."""
    terms = phrase.split() if isinstance(phrase, str) else list(phrase)
    terms = [t.lower() for t in terms if t]
    if not terms:
        raise ValueError("phrase_search: empty phrase")
    joined = (
        index.filter(F.col("term").isin(*set(terms)))
        .groupBy(id_col)
        .agg(*[
            F.max(F.when(F.col("term") == t, F.col("positions"))).alias(f"__p{j}")
            for j, t in enumerate(terms)
        ])
        .filter(
            F.expr(" AND ".join(f"__p{j} IS NOT NULL" for j in range(len(terms))))
        )
    )
    # closure factory, NOT a default-arg lambda: a second parameter
    # (even a defaulted one) makes PySpark treat the lambda as the
    # (element, index) form and bind the default to the index column
    def _adjacent(j: int):
        return lambda p: F.array_contains(F.col(f"__p{j}"), p + j)

    occ = F.col("__p0")
    for j in range(1, len(terms)):
        occ = F.filter(occ, _adjacent(j))
    return (
        joined.withColumn("__occ", occ)
        .filter(F.size("__occ") > 0)
        .select(
            id_col,
            F.size("__occ").cast("long").alias("n_matches"),
            F.element_at("__occ", 1).cast("long").alias("first_pos"),
        )
    )


def chunk_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """RAG-style overlapping token windows with exact coordinates —
    the retrieval-corpus prep step between curation and embedding:
    every document splits into chunks of ``chunk_tokens`` whitespace
    tokens advancing by ``stride = chunk_tokens − overlap``, so
    consecutive chunks share ``overlap`` tokens and no answer span
    longer than the overlap is ever cut. Emits (id, chunk_id,
    start_tok, n_chunk_tokens, chunk_text): chunk_id is the 0-based
    window index, start_tok its exact token offset — the coordinates
    an answer-span attributor joins back on. Chunk starts are every
    multiple of stride below the doc's token count (a short final
    window keeps the tail; an empty/NULL doc yields one empty chunk,
    the flag-not-filter canon). The overlap/coordinates are what
    distinguish this from :func:`chunk_tokens` (disjoint fixed-width
    packing) — retrieval chunking needs the shared margin.

    Scale shape: MAP-ONLY — split, a per-row sequence of starts,
    explode, slice + array_join; no shuffle, no UDF, no window. The
    explode multiplies rows by ≈ n_tokens/stride, the same linear
    blow-up the downstream embedder pays by design."""
    if overlap >= chunk_tokens:
        raise ValueError("chunk_windows: overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(text_col)
    # tokens('') == [''] so n >= 1 always: the sequence end (largest
    # multiple of stride <= n-1) is never negative
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0),
        (n - 1) - F.pmod(n - 1, F.lit(stride)),
        F.lit(stride),
    )
    exploded = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.posexplode(starts).alias("chunk_id", "start_tok"),
    )
    piece = F.slice(F.col("__toks"), F.col("start_tok") + 1, chunk_tokens)
    return exploded.select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("start_tok").cast("int").alias("start_tok"),
        F.size(piece).cast("int").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )
