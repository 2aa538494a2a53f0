"""Text-analysis gates: tokenization (incl. BPE), language/quality stats, TF-IDF, BM25/keyword search, fingerprints, PII redaction.

Split out of the former monolithic queries.py; see package __init__ for
the assembled QUERIES/ORACLES registry (order preserved exactly).
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import Window
from pyspark.sql import functions as F

from ip_filter_spark.functions.text import (
    LANG_MARKERS,
    MOD,
    fingerprint_expr,
    lang_id_expr,
    ngrams_expr,
    token_count_expr,
    tokens_expr,
)
from ip_filter_spark.lifetime import pinned
from ip_filter_spark.queries._shared import (
    _t,
    _SQL_TOKENS,
    _ensure_shipped,
)

def token_stats_by_lang(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count_expr("text")).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
    )


TOKEN_STATS_SQL = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS total_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


def quality_by_lang(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n = F.length("text")
    punct = n - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))
    digits = n - F.length(F.regexp_replace(F.col("text"), r"[0-9]", ""))
    agg = d.groupBy("lang").agg(
        F.sum(n).alias("chars"),
        F.sum(punct).alias("punct"),
        F.sum(digits).alias("digits"),
    )
    return agg.select(
        "lang",
        F.round(F.col("punct") / F.col("chars"), 6).alias("punct_ratio"),
        F.round(F.col("digits") / F.col("chars"), 6).alias("digit_ratio"),
    )


QUALITY_SQL = r"""
WITH a AS (
  SELECT lang, SUM(length(text)) AS chars,
         SUM(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) AS punct,
         SUM(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) AS digits
  FROM documents GROUP BY lang)
SELECT lang, ROUND(punct / CAST(chars AS DOUBLE), 6) AS punct_ratio,
       ROUND(digits / CAST(chars AS DOUBLE), 6) AS digit_ratio
FROM a
"""


def lang_id_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(lang_id_expr("text").alias("pred_lang")).agg(F.count("*").alias("n"))


def _lang_id_sql() -> str:
    """Replicates lang_id_expr's reversed-fold argmax exactly in SQL."""
    score = {
        lang: " + ".join(
            f"(len(regexp_split_to_array(' ' || lower(text) || ' ', '\\s{m}\\s')) - 1)" for m in markers
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    sel = ", ".join(f"({expr}) AS s_{lang}" for lang, expr in score.items())
    langs = sorted(LANG_MARKERS)
    best = "'unk'"
    best_score = "-1"
    for lang in reversed(langs):
        best = f"CASE WHEN s_{lang} > ({best_score}) THEN '{lang}' ELSE {best} END"
        best_score = f"CASE WHEN s_{lang} > ({best_score}) THEN s_{lang} ELSE ({best_score}) END"
    return f"""
WITH s AS (SELECT {sel} FROM documents)
SELECT pred_lang, COUNT(*) AS n FROM (
  SELECT CASE WHEN ({best_score}) > 0 THEN ({best}) ELSE 'unk' END AS pred_lang FROM s)
GROUP BY pred_lang
"""


def fingerprint_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_expr("text").alias("fp"))


FINGERPRINT_SQL = f"""
SELECT doc_id,
       CAST(COALESCE(list_sum(list_transform({_SQL_TOKENS},
                (x, i) -> (i * ((length(x) * 131 + ascii(x)) % {MOD})) % {MOD})) % {MOD}, 0) AS BIGINT) AS fp
FROM documents
"""


def tfidf_top_terms(spark, sf_dir):
    """Corpus vocabulary scoring — top-3 terms per language by TF-IDF
    (smooth IDF: tf_lang(t) · ln((1+N)/(1+df(t)))). Every aggregate
    input is an EXACT integer (per-lang term counts, global document
    frequency, corpus size), the doc-frequency table broadcasts into the
    scoring join, and the only float is one deterministic ln of
    identical integer ratios — so both engines rank from bit-equal
    inputs and the output carries the integer evidence columns, not the
    float. One explode scan feeds both aggregates; at 100 TB the
    vocabulary table (terms) is orders smaller than the corpus, which is
    what makes the broadcast the right join shape."""
    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()
    # r6 note: both a single-pass per-(doc,lang,term) base aggregate and
    # a parallelism-repair repartition of the source were tried here and
    # REVERTED: each won ~0.3 s at 50k docs but cost ~0.5 s at 5k (extra
    # exchange + cache vs the cheap double tokenization) — tokens_expr
    # is too light per byte for either to pay off at this shape.
    tok = d.select("doc_id", "lang", F.explode(tokens_expr("text")).alias("term"))
    docfreq = (
        tok.select("doc_id", "term").distinct().groupBy("term").agg(F.count("*").alias("doc_freq"))
    )
    counts = tok.groupBy("lang", "term").agg(F.count("*").alias("term_count"))
    scored = counts.join(F.broadcast(docfreq), "term").withColumn(
        "score",
        F.col("term_count") * F.log((1.0 + n_docs) / (1 + F.col("doc_freq"))),
    )
    # ties (and near-ties) break on exact integers BEFORE the term name:
    # JVM Math.log and DuckDB libm can differ in the last ulp, so two
    # distinct terms with equal (term_count, doc_freq) — bit-identical
    # scores per engine — must not fall through to float comparison noise
    w = Window.partitionBy("lang").orderBy(
        F.desc("score"), F.desc("term_count"), F.asc("doc_freq"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("lang", "rank", "term", "term_count", "doc_freq")
    )


TFIDF_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS term FROM documents),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
docfreq AS (
  SELECT term, COUNT(*) AS doc_freq
  FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term),
counts AS (SELECT lang, term, COUNT(*) AS term_count FROM tok GROUP BY lang, term),
scored AS (
  SELECT c.lang, c.term, c.term_count, d.doc_freq,
         c.term_count * ln((1.0 + n.n_docs) / (1 + d.doc_freq)) AS score
  FROM counts c JOIN docfreq d USING (term), n),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY lang
    ORDER BY score DESC, term_count DESC, doc_freq ASC, term ASC) AS rank
  FROM scored)
SELECT lang, CAST(rank AS INTEGER) AS rank, term, term_count, doc_freq
FROM ranked WHERE rank <= 3
"""


_SEARCH_TERMS = ("spark", "merge", "window")


_BM25_K1, _BM25_B = 1.2, 0.75


def bm25_top_docs(spark, sf_dir):
    """BM25 ranked retrieval (Robertson–Spärck Jones, the standard
    probabilistic ranker) for the 3-term query over the posting table:
    score(d) = Σ_t ln(1+(N-df+0.5)/(df+0.5)) · tf/(tf + k1·(1-b+b·dl/avgdl)).

    Cross-engine float discipline: every input is an exact integer (tf,
    df, N, dl, Σdl), each per-term contribution is isolated into its own
    conditional-sum column (one non-zero addend per group, so group
    aggregation order can't perturb it), and the final score folds those
    columns in FIXED alphabetical term order — both engines therefore
    evaluate the identical double expression tree; ties beyond the float
    break on exact integers (total_tf, dl, doc_id). Output carries rank
    + the integer evidence, not the float. One posting scan (query terms
    pushed down), df/stats broadcast, global top-k plans as
    TakeOrderedAndProject."""
    from ip_filter_spark.functions.text import token_count_expr
    from ip_filter_spark.sources.inverted_index import build_postings

    d = _t(spark, sf_dir, "documents")
    terms = sorted(_SEARCH_TERMS)
    dl = d.select("doc_id", token_count_expr("text").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("total_len"),
    )
    sel = build_postings(d).where(F.col("term").isin(terms))
    dfq = sel.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        sel.join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            (
                F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * F.col("tf")
            )
            / (
                F.col("tf")
                + _BM25_K1
                * (
                    (1.0 - _BM25_B)
                    + _BM25_B * F.col("dl") / (F.col("total_len") / F.col("n_docs"))
                )
            ),
        )
    )
    per_term = [
        F.sum(F.when(F.col("term") == t, F.col("contrib")).otherwise(F.lit(0.0))).alias(
            f"_c{i}"
        )
        for i, t in enumerate(terms)
    ]
    per_doc = scored.groupBy("doc_id", "dl").agg(*per_term, F.sum("tf").alias("total_tf"))
    score = F.col("_c0")
    for i in range(1, len(terms)):
        score = score + F.col(f"_c{i}")
    from pyspark.sql import Window

    w = Window.orderBy(
        F.desc("score"), F.desc("total_tf"), F.asc("dl"), F.asc("doc_id")
    )
    return (
        per_doc.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 15)
        .select("rank", "doc_id", F.col("dl").cast("long").alias("dl"), "total_tf")
    )


BM25_TOP_DOCS_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok
  WHERE term IN ('merge', 'spark', 'window') GROUP BY doc_id, term),
dl AS (SELECT doc_id, len({_SQL_TOKENS}) AS dl FROM documents),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(len({_SQL_TOKENS})) AS DOUBLE) AS total_len
  FROM documents),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
         (ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * tf.tf)
         / (tf.tf + {_BM25_K1} * ((1.0 - {_BM25_B})
              + {_BM25_B} * dl.dl / (s.total_len / s.n_docs))) AS c
  FROM tf JOIN dfq d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
per_doc AS (
  SELECT doc_id, dl,
         SUM(CASE WHEN term = 'merge' THEN c ELSE 0.0 END) AS _c0,
         SUM(CASE WHEN term = 'spark' THEN c ELSE 0.0 END) AS _c1,
         SUM(CASE WHEN term = 'window' THEN c ELSE 0.0 END) AS _c2,
         CAST(SUM(tf) AS BIGINT) AS total_tf
  FROM contrib GROUP BY doc_id, dl)
SELECT rank, doc_id, dl, total_tf FROM (
  SELECT CAST(ROW_NUMBER() OVER (
           ORDER BY ((_c0 + _c1) + _c2) DESC, total_tf DESC, dl ASC, doc_id ASC
         ) AS INT) AS rank, doc_id, dl, total_tf
  FROM per_doc)
WHERE rank <= 15
"""


def keyword_search_docs(spark, sf_dir):
    """Conjunctive (AND) keyword search over an inverted posting table —
    docs containing ALL of three query terms, with their summed term
    frequency. The posting build is one explode scan + one (term, doc)
    aggregation; the search filters postings to the 3-term query
    vocabulary (pushed into the scan) and resolves the AND with a single
    doc-keyed aggregation — shuffle is O(selected postings), independent
    of corpus size. The persisted form (``write_term_index`` /
    ``search_term_index``) adds term-hash-bucket partition pruning so a
    k-term query LISTS at most k of B directories; that layout contract
    is pinned in tests/test_operators.py. Oracle replicates tokenize →
    tf → HAVING matched-all-terms in SQL."""
    from ip_filter_spark.sources.inverted_index import build_postings, conjunctive_search

    d = _t(spark, sf_dir, "documents")
    return conjunctive_search(build_postings(d), list(_SEARCH_TERMS))


KEYWORD_SEARCH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok
  WHERE term IN ('spark', 'merge', 'window')
  GROUP BY doc_id, term)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS total_tf
FROM tf
GROUP BY doc_id
HAVING COUNT(DISTINCT term) = 3
"""


# =====================================================================
# Round 4 batch 2: repetition / decontamination / sequences / relational
# =====================================================================
def repetition_stats_docs(spark, sf_dir):
    """Gopher-style repetition quality filter (Rae et al. '21 §A1.1
    shape): per doc, the top-bigram fraction and the distinct-token
    ratio; flagged when top_bigram/n_bigrams > 1/5 OR
    distinct/total < 1/2 — both tested as INTEGER cross-products, so the
    flag is exact across engines. Scale shape: the bigram mode needs a
    per-(doc,gram) count — one shuffle keyed on (doc_id, gram), high
    cardinality, balanced; the second groupBy reuses the doc_id
    partitioning; the final per-lang rollup is 5 groups,
    map-side-combined to nothing."""
    from ip_filter_spark.functions.text import ngrams_expr

    d = _t(spark, sf_dir, "documents")
    grams = d.select("doc_id", F.explode(ngrams_expr("text", 2)).alias("gram"))
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    per_doc = per_gram.groupBy("doc_id").agg(
        F.max("c").alias("top_bigram"), F.sum("c").alias("n_bigrams")
    )
    toks = tokens_expr("text")
    stats = d.select(
        "doc_id",
        "lang",
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(toks).alias("n_tokens"),
    )
    joined = stats.join(per_doc, "doc_id", "left").na.fill(
        {"top_bigram": 0, "n_bigrams": 0}
    )
    flagged = (F.col("top_bigram") * 5 > F.col("n_bigrams")) | (
        F.col("n_distinct") * 2 < F.col("n_tokens")
    )
    return joined.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(flagged.cast("long")).alias("n_flagged"),
        F.sum("top_bigram").alias("total_top_bigram"),
        F.sum("n_bigrams").alias("total_bigrams"),
        F.sum("n_distinct").alias("total_distinct_tokens"),
        F.sum("n_tokens").alias("total_tokens"),
    )


REPETITION_STATS_SQL = f"""
WITH toks AS (SELECT doc_id, lang, {_SQL_TOKENS} AS t FROM documents),
grams AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t)),
                        i -> array_to_string(t[i:i+1], ' '))) AS gram
  FROM toks WHERE len(t) >= 2),
per_gram AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2),
per_doc AS (SELECT doc_id, MAX(c) AS top_bigram,
                   CAST(SUM(c) AS BIGINT) AS n_bigrams
            FROM per_gram GROUP BY 1),
stats AS (
  SELECT ts.lang,
         COALESCE(pd.top_bigram, 0) AS top_bigram,
         COALESCE(pd.n_bigrams, 0) AS n_bigrams,
         len(list_distinct(ts.t)) AS n_distinct, len(ts.t) AS n_tokens
  FROM toks ts LEFT JOIN per_doc pd USING (doc_id))
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN top_bigram * 5 > n_bigrams
                       OR n_distinct * 2 < n_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(SUM(top_bigram) AS BIGINT) AS total_top_bigram,
       CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
       CAST(SUM(n_distinct) AS BIGINT) AS total_distinct_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM stats GROUP BY lang
"""


_BPE_K = 3


def bpe_train_merges_docs(spark, sf_dir):
    """Distributed BPE tokenizer TRAINING (the first K=3 merge rules) —
    the real algorithm, not statistics: per iteration, count adjacent
    symbol pairs over the corpus's distinct-word frequency table (the
    standard trainer shape — pair mass is word_count-weighted, so the
    pair scan is O(distinct words), not O(corpus)), pick the most
    frequent pair (ties broken lexicographically — deterministic in both
    engines over ASCII), and apply the merge. K sequential iterations =
    K small shuffles (pair → count) plus one 1-row driver sync each,
    exactly the Pregel-style loop discipline used by
    connected_components; the learned merge table is what ships to the
    tokenizer at 100 TB, and each iteration's distinct-word table stays
    partitioned in place.

    Cross-engine exactness: symbol sequences are rendered as
    marker-bracketed strings (``<h><e><l><l><o>``; corpus restricted to
    [a-z] words so ``<``/``>`` are out-of-alphabet), which makes the
    merge application a plain single-pass ``REPLACE('<a><b>' →
    '<ab>')`` with IDENTICAL non-overlapping left-to-right semantics in
    Spark and DuckDB — boundary-safe (a multi-char symbol ending in
    ``a`` can't false-match) and correct on runs (``<a><a><a>`` →
    ``<aa><a>``, the BPE leftmost-first rule). The oracle replays all
    three iterations in chained CTEs; pair counts are exact integers."""
    _ensure_shipped(spark)
    merges = _bpe_learn(spark, sf_dir)
    return spark.createDataFrame(
        merges, "iteration long, sym_a string, sym_b string, merged string, pair_count long"
    )


def _bpe_words(spark, sf_dir):
    """Corpus-global distinct-word frequency table shared by every BPE
    gate (trainers are O(distinct words) per iteration, not O(corpus))."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w"))
        .where(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )


def _bpe_learn(spark, sf_dir, k=None):
    """The ONE-JOB-PER-MERGE trainer loop shared by the train and encode
    gates: returns [(iteration, sym_a, sym_b, merged, pair_count), ...]
    for K merges over the corpus-global distinct-word frequency table.
    The batched Arrow-kernel trainer (operators/bpe.py) is the scale
    path; this sequential form stays as its ground truth (the K=16 law
    test pins batched ≡ sequential) and as the oracle-replicable gate."""
    k = k if k is not None else _BPE_K
    words = _bpe_words(spark, sf_dir)
    merges = []
    # at most two pinned tables live: tbl, and its parent until the first
    # action on tbl has materialized it off the parent
    with ExitStack() as parent, ExitStack() as live:
        tbl = live.enter_context(pinned())(
            words.select("wc", F.regexp_replace("w", "(.)", "<$1>").alias("seq"))
        )
        for it in range(1, k + 1):
            syms = tbl.select("wc", F.expr("regexp_extract_all(seq, '<([^>]*)>', 1)").alias("syms"))
            pairs = syms.where(F.expr("size(syms) >= 2")).select(
                "wc",
                F.explode(
                    F.expr("transform(sequence(0, size(syms) - 2), i -> concat(syms[i], ' ', syms[i + 1]))")
                ).alias("pair"),
            )
            top = (
                pairs.groupBy("pair")
                .agg(F.sum("wc").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("pair"))
                .first()
            )
            parent.close()  # the action above materialized tbl's cache
            if top is None:
                raise ValueError(
                    f"corpus too small for {k} BPE merges: no word has "
                    f">= 2 symbols left at iteration {it}"
                )
            a, b = top.pair.split(" ")
            merges.append((it, a, b, a + b, int(top.cnt)))
            parent.push(live.pop_all())
            tbl = live.enter_context(pinned())(
                tbl.select("wc", F.replace(F.col("seq"), F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>")).alias("seq"))
            )
    return merges


def bpe_encode_stats_docs(spark, sf_dir):
    """The ENCODE half of the distributed tokenizer: learn the K=3
    merges (``_bpe_learn``, the gated trainer loop), then apply them to
    the per-(lang, word) frequency table as a chain of K literal
    REPLACEs — the merge table is data the size of K rules, folded into
    the expression (at 100 TB the learned vocabulary broadcasts; the
    corpus is touched by ONE encode pass). Per language the gate emits
    exact integers: token count after merging (Σ wc·|syms|), character
    mass (Σ wc·|w|), tokens saved vs character-level tokenization
    (chars − tokens — each applied merge reduces a word's token count
    by exactly its occurrence count), and the distinct post-merge
    symbol vocabulary. Oracle: the same 3 learning iterations replayed
    in chained CTEs, then the same 3 REPLACEs over the lang table."""
    _ensure_shipped(spark)
    merges = _bpe_learn(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    lw = (
        d.select("lang", F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w"))
        .where(F.length("w") >= 1)
        .groupBy("lang", "w")
        .agg(F.count("*").alias("wc"))
    )
    seq = F.regexp_replace("w", "(.)", "<$1>")
    for _, a, b, _, _ in merges:
        seq = F.replace(seq, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
    enc = lw.withColumn("seq", seq).select(
        "lang", "wc", F.length("w").alias("n_chars"),
        F.expr("regexp_extract_all(seq, '<([^>]*)>', 1)").alias("syms"),
    )
    per_word = enc.select(
        "lang", "wc", "n_chars", F.size("syms").alias("n_syms"), "syms"
    )
    stats = per_word.groupBy("lang").agg(
        F.sum(F.col("wc") * F.col("n_syms")).alias("total_tokens"),
        F.sum(F.col("wc") * F.col("n_chars")).alias("total_chars"),
        (F.sum(F.col("wc") * F.col("n_chars")) - F.sum(F.col("wc") * F.col("n_syms"))).alias(
            "tokens_saved"
        ),
    )
    vocab = (
        per_word.select("lang", F.explode("syms").alias("sym"))
        .groupBy("lang")
        .agg(F.countDistinct("sym").alias("vocab_size"))
    )
    return stats.join(vocab, "lang").select(
        "lang", "total_tokens", "total_chars", "tokens_saved", "vocab_size"
    )


def _bpe_iteration_sql(prev: str, idx: int) -> str:
    """One BPE iteration as chained CTEs over ``prev`` (wc, seq)."""
    return f"""
top{idx} AS MATERIALIZED (
  SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
    SELECT wc,
           unnest(list_transform(generate_series(1, len(syms) - 1),
                                 i -> syms[i] || ' ' || syms[i + 1])) AS pair
    FROM (SELECT wc, regexp_extract_all(seq, '<([^>]*)>', 1) AS syms FROM {prev})
  ) GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 1
),
m{idx} AS MATERIALIZED (
  SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b, cnt FROM top{idx}
),
seq{idx} AS MATERIALIZED (
  SELECT wc, REPLACE(seq, '<' || m.a || '><' || m.b || '>', '<' || m.a || m.b || '>') AS seq
  FROM {prev}, m{idx} AS m
)"""


BPE_TRAIN_SQL = f"""
WITH words AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
  FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w FROM documents)
  WHERE len(w) >= 1 GROUP BY w
),
seq0 AS MATERIALIZED (
  SELECT wc, regexp_replace(w, '(.)', '<\\1>', 'g') AS seq FROM words
),{_bpe_iteration_sql('seq0', 1)},{_bpe_iteration_sql('seq1', 2)},{_bpe_iteration_sql('seq2', 3)}
SELECT CAST(1 AS BIGINT) AS iteration, a AS sym_a, b AS sym_b, a || b AS merged, cnt AS pair_count FROM m1
UNION ALL
SELECT CAST(2 AS BIGINT), a, b, a || b, cnt FROM m2
UNION ALL
SELECT CAST(3 AS BIGINT), a, b, a || b, cnt FROM m3
"""


_BPE_BATCH_K = 16


def bpe_batched_train_merges_docs(spark, sf_dir):
    """BPE training at tokenizer scale: the batched Arrow-kernel trainer
    (operators/bpe.py) learns K=16 merges in ~K/8 Spark rounds — words
    as symbol arrays, ONE pair-count aggregation per round, a provably
    sequential-equivalent greedy batch (maximal disjoint prefix,
    truncated strictly above the first conflicting count), and the whole
    batch applied by a vectorized numpy kernel in one mapInPandas pass.
    The oracle replays all 16 iterations one-at-a-time in chained CTEs
    (the sequential ground truth), so a hash match here *is* the
    batched ≡ sequential law verified externally. At K=30k the same loop
    is ~4k shuffles instead of 30k jobs, with O(1) plan depth."""
    _ensure_shipped(spark)
    from ip_filter_spark.operators.bpe import bpe_train_batched

    merges = bpe_train_batched(_bpe_words(spark, sf_dir), k=_BPE_BATCH_K, batch=8)
    return spark.createDataFrame(
        merges, "iteration long, sym_a string, sym_b string, merged string, pair_count long"
    )


def _bpe_train_sql(k: int) -> str:
    """Sequential K-iteration BPE replay as chained CTEs (the oracle for
    both the sequential K=3 gate and the batched K=16 gate)."""
    iters = ",".join(_bpe_iteration_sql(f"seq{i - 1}", i) for i in range(1, k + 1))
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT){' AS iteration' if i == 1 else ''}, "
        f"a{' AS sym_a' if i == 1 else ''}, b{' AS sym_b' if i == 1 else ''}, "
        f"a || b{' AS merged' if i == 1 else ''}, cnt{' AS pair_count' if i == 1 else ''} FROM m{i}"
        for i in range(1, k + 1)
    )
    return f"""
WITH words AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
  FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w FROM documents)
  WHERE len(w) >= 1 GROUP BY w
),
seq0 AS MATERIALIZED (
  SELECT wc, regexp_replace(w, '(.)', '<\\1>', 'g') AS seq FROM words
),{iters}
{unions}
"""


BPE_BATCHED_TRAIN_SQL = _bpe_train_sql(_BPE_BATCH_K)


BPE_ENCODE_SQL = f"""
WITH words AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
  FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w FROM documents)
  WHERE len(w) >= 1 GROUP BY w
),
seq0 AS MATERIALIZED (
  SELECT wc, regexp_replace(w, '(.)', '<\\1>', 'g') AS seq FROM words
),{_bpe_iteration_sql('seq0', 1)},{_bpe_iteration_sql('seq1', 2)},{_bpe_iteration_sql('seq2', 3)},
langwords AS (
  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS wc
  FROM (SELECT lang, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w FROM documents)
  WHERE len(w) >= 1 GROUP BY lang, w
),
encoded AS (
  SELECT lang, wc, len(w) AS n_chars,
         regexp_extract_all(
           REPLACE(REPLACE(REPLACE(regexp_replace(w, '(.)', '<\\1>', 'g'),
             '<' || m1.a || '><' || m1.b || '>', '<' || m1.a || m1.b || '>'),
             '<' || m2.a || '><' || m2.b || '>', '<' || m2.a || m2.b || '>'),
             '<' || m3.a || '><' || m3.b || '>', '<' || m3.a || m3.b || '>'),
           '<([^>]*)>', 1) AS syms
  FROM langwords, m1, m2, m3
),
stats AS (
  SELECT lang,
         CAST(SUM(wc * len(syms)) AS BIGINT) AS total_tokens,
         CAST(SUM(wc * n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(wc * n_chars) - SUM(wc * len(syms)) AS BIGINT) AS tokens_saved
  FROM encoded GROUP BY lang
),
vocab AS (
  SELECT lang, CAST(COUNT(DISTINCT sym) AS BIGINT) AS vocab_size
  FROM (SELECT lang, unnest(syms) AS sym FROM encoded) GROUP BY lang
)
SELECT stats.lang, total_tokens, total_chars, tokens_saved, vocab_size
FROM stats JOIN vocab ON stats.lang = vocab.lang
"""


def bpe_token_stats_docs(spark, sf_dir):
    """Sub-word ('BPE-ish') token statistics: alpha runs, digit runs,
    and single punctuation marks as separate tokens — the
    regexp_extract_all pattern uses only ASCII classes, where the Java
    (Spark) and RE2 (DuckDB) engines agree symbol for symbol. Per
    language: docs, whitespace tokens, sub-word tokens (always >=
    whitespace count — pinned by the oracle's integer comparison
    column). One scan, one 5-group aggregate."""
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]"
    d = _t(spark, sf_dir, "documents")
    sub = F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0))
    ws = token_count_expr("text")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(ws).alias("total_ws_tokens"),
        F.sum(sub).alias("total_subword_tokens"),
        F.sum((sub >= ws).cast("long")).alias("n_docs_subword_ge_ws"),
    )


BPE_TOKEN_STATS_SQL = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]'))) AS BIGINT) AS total_subword_tokens,
       CAST(SUM(CASE WHEN len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]'))
                       >= len({_SQL_TOKENS}) THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_subword_ge_ws
FROM documents GROUP BY lang
"""


def unigram_commonness_docs(spark, sf_dir):
    """Quality-filter proxy for training-data curation: per-doc token
    "commonness" — the sum of corpus-wide frequencies of the doc's
    tokens, length-normalized to an exact integer per-mille
    ((1000·Σfreq) div n_tokens). Low scores flag rare-token / noisy
    docs; the ranking is pure integers so it hash-matches the oracle
    (no log-prob floats). Plan: one token explode feeding BOTH the
    frequency groupBy and (re-joined on the token key) the per-doc
    aggregate — the vocabulary side of the join is a groupBy output,
    tiny after map-side partial aggregation even at 100 TB. Output:
    top-5 docs per language by commonness."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(tokens_expr("text")).alias("w"))
    freq = toks.groupBy("w").agg(F.count("*").alias("f"))
    scored = (
        toks.join(freq, "w")
        .groupBy("doc_id", "lang")
        .agg(F.sum("f").alias("sum_freq"), F.count("*").alias("n_tokens"))
        .withColumn("commonness_milli", F.expr("(1000 * sum_freq) div n_tokens"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("commonness_milli"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            "lang",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "n_tokens",
            "sum_freq",
            "commonness_milli",
        )
    )


UNIGRAM_COMMONNESS_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS w FROM documents),
freq AS (SELECT w, COUNT(*) AS f FROM tok GROUP BY w),
scored AS (
  SELECT t.doc_id, t.lang,
         CAST(SUM(f.f) AS BIGINT) AS sum_freq,
         COUNT(*) AS n_tokens
  FROM tok t JOIN freq f USING (w)
  GROUP BY t.doc_id, t.lang),
ranked AS (
  SELECT *, (1000 * sum_freq) // n_tokens AS commonness_milli FROM scored),
top AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY lang ORDER BY commonness_milli DESC, doc_id ASC) AS rank
  FROM ranked)
SELECT lang, CAST(rank AS INTEGER) AS rank, doc_id, n_tokens, sum_freq,
       commonness_milli
FROM top WHERE rank <= 5
"""


def top_bigrams_corpus(spark, sf_dir):
    """Corpus-wide n-gram vocabulary mining (the exact companion to the
    CMS heavy-hitter sketches): token bigrams generated INSIDE the row
    with a codegen'd transform (sequence+slice — zero joins, zero extra
    shuffles before the one aggregate), exploded, counted, top-20 by
    (count desc, bigram). The aggregate's map-side partial combine is
    what makes this viable at 100 TB: the reducer sees vocabulary-sized
    data, not corpus-sized."""
    d = _t(spark, sf_dir, "documents")
    big = d.select(F.explode(ngrams_expr("text", 2)).alias("bigram"))
    return (
        big.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


TOP_BIGRAMS_SQL = f"""
WITH big AS (
  SELECT unnest(CASE WHEN len({_SQL_TOKENS}) >= 2
    THEN list_transform(range(1, len({_SQL_TOKENS})),
         i -> array_to_string(list_slice({_SQL_TOKENS}, i, i + 1), ' '))
    ELSE [] END) AS bigram
  FROM documents)
SELECT bigram, COUNT(*) AS n FROM big
GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20
"""


def phrase_search_docs(spark, sf_dir):
    """Positional phrase search — the inverted-index upgrade the
    keyword gate can't express: find every document containing the
    corpus's probe phrase (the first 3 tokens of the lowest doc_id) at
    CONSECUTIVE positions. The plan filters the positional postings to
    the 3 phrase terms FIRST (predicate pushed to the scan side of the
    explode), so the self-joins run over term-frequency-sized inputs,
    not corpus-sized — at 100 TB the join sides are |postings(w)|, the
    same asymptotics as a real positional index. Output: bounded hit
    stats (count / min / max / sum of matching doc_ids)."""
    d = _t(spark, sf_dir, "documents")
    probe = (
        d.orderBy("doc_id")
        .select(F.slice(tokens_expr("text"), 1, 3).alias("p"))
        .first()["p"]
    )
    w1, w2, w3 = probe[0], probe[1], probe[2]
    toks = d.select(
        "doc_id", F.posexplode(tokens_expr("text")).alias("pos", "w")
    )
    t1 = toks.where(F.col("w") == w1).select("doc_id", F.col("pos").alias("p1"))
    t2 = toks.where(F.col("w") == w2).select("doc_id", F.col("pos").alias("p2"))
    t3 = toks.where(F.col("w") == w3).select("doc_id", F.col("pos").alias("p3"))
    hits = (
        t1.join(t2, "doc_id")
        .where(F.col("p2") == F.col("p1") + 1)
        .join(t3, "doc_id")
        .where(F.col("p3") == F.col("p1") + 2)
        .select("doc_id")
        .distinct()
    )
    return hits.agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.sum("doc_id").alias("sum_doc_ids"),
    )


PHRASE_SEARCH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS w,
         unnest(range(len({_SQL_TOKENS}))) AS pos
  FROM documents),
phrase AS (
  SELECT list_slice({_SQL_TOKENS}, 1, 3) AS p FROM documents
  WHERE doc_id = (SELECT MIN(doc_id) FROM documents)),
hits AS (
  SELECT DISTINCT t1.doc_id
  FROM toks t1
  JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
  JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
  CROSS JOIN phrase
  WHERE t1.w = p[1] AND t2.w = p[2] AND t3.w = p[3])
SELECT COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id, CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids
FROM hits
"""


def pii_redaction_docs(spark, sf_dir):
    """PII scrubbing — the redaction pass every shared training corpus
    needs. PII-shaped spans (an email, a dotted-quad host) are
    synthesized DETERMINISTICALLY from each row's own columns (the
    corpus words carry none), then extracted and redacted with pure JVM
    ``regexp_extract_all`` / ``regexp_replace`` (functions/text.py
    PII_PATTERNS — syntax chosen for identical Java-regex/RE2
    semantics). Per-lang integers gate the full behavior: hit counts per
    pattern, zero leftover matches after redaction, and the exact number
    of characters removed. Zero shuffle beyond the final tiny groupBy;
    per-row regex work scales embarrassingly."""
    from ip_filter_spark.functions.text import pii_counts_exprs, redact_pii_expr

    docs = _t(spark, sf_dir, "documents")
    txt = F.concat(
        F.col("text"),
        F.lit(" contact "),
        F.col("source"),
        F.lit("_"),
        F.col("doc_id").cast("string"),
        F.lit("@example."),
        F.col("lang"),
        F.lit(" from host 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 13) % 256).cast("string"),
    )
    d = docs.select("lang", txt.alias("txt")).withColumn("red", redact_pii_expr("txt"))
    hits = pii_counts_exprs("txt")
    left = pii_counts_exprs("red")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(hits["n_email"]).alias("emails_found"),
        F.sum(hits["n_ipv4"]).alias("ips_found"),
        F.sum(left["n_email"] + left["n_ipv4"]).alias("leftover_pii"),
        F.sum(F.length("txt") - F.length("red")).alias("chars_removed"),
    )


def _pii_sql() -> str:
    from ip_filter_spark.functions.text import PII_PATTERNS

    email, ipv4 = PII_PATTERNS["email"], PII_PATTERNS["ipv4"]
    return f"""
WITH synth AS (
  SELECT lang,
         text || ' contact ' || source || '_' || CAST(doc_id AS VARCHAR) || '@example.' || lang
              || ' from host 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 13) % 256 AS VARCHAR) AS txt
  FROM documents),
red AS (
  SELECT lang, txt,
         regexp_replace(regexp_replace(txt, '{email}', '[EMAIL]', 'g'),
                        '{ipv4}', '[IPV4]', 'g') AS r
  FROM synth)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(regexp_extract_all(txt, '{email}'))) AS BIGINT) AS emails_found,
       CAST(SUM(len(regexp_extract_all(txt, '{ipv4}'))) AS BIGINT) AS ips_found,
       CAST(SUM(len(regexp_extract_all(r, '{email}')) + len(regexp_extract_all(r, '{ipv4}'))) AS BIGINT) AS leftover_pii,
       CAST(SUM(length(txt) - length(r)) AS BIGINT) AS chars_removed
FROM red GROUP BY lang
"""


def char_entropy_docs(spark, sf_dir):
    """Character-entropy quality filter (gibberish / low-diversity
    detector): per-doc Shannon entropy in bits as a pure JVM expression
    (functions/text.py::char_entropy_expr — no UDF, no per-char explode,
    zero shuffle before the per-lang rollup). The gate bands docs by
    entropy with thresholds away from any float-ulp boundary (JVM log vs
    DuckDB libm agree to ~1e-13 relative; bands are integers) and
    carries an exact integer companion (sum of per-doc distinct-char
    counts) so the tokenizer-side agreement is full-value. Oracle:
    DuckDB's native log2-based ``entropy()`` aggregate over unnested
    characters."""
    from ip_filter_spark.functions.text import char_entropy_expr

    d = _t(spark, sf_dir, "documents").where(F.length("text") > 0)
    chars = F.filter(F.split(F.col("text"), ""), lambda x: x != "")
    per = d.select(
        "lang",
        char_entropy_expr("text").alias("h"),
        F.size(F.array_distinct(chars)).cast("long").alias("nd"),
    )
    return per.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("h") < 4.09).cast("long")).alias("n_low"),
        F.sum(((F.col("h") >= 4.09) & (F.col("h") < 4.13)).cast("long")).alias("n_mid"),
        F.sum((F.col("h") >= 4.13).cast("long")).alias("n_high"),
        F.sum("nd").alias("sum_distinct_chars"),
    )


CHAR_ENTROPY_SQL = """
WITH per_doc AS (
  SELECT d.doc_id, d.lang, entropy(t.ch) AS h, COUNT(DISTINCT t.ch) AS nd
  FROM documents d, unnest(string_split(d.text, '')) AS t(ch)
  WHERE length(d.text) > 0
  GROUP BY d.doc_id, d.lang)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN h < 4.09 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(SUM(CASE WHEN h >= 4.09 AND h < 4.13 THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
       CAST(SUM(CASE WHEN h >= 4.13 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       CAST(SUM(nd) AS BIGINT) AS sum_distinct_chars
FROM per_doc GROUP BY lang
"""


def vocab_coverage_docs(spark, sf_dir):
    """Tokenizer-vocabulary coverage — the fixed-vocab OOV audit every
    training pipeline runs before committing to a tokenizer: build the
    top-12 corpus vocabulary (count DESC, term ASC — a deterministic
    total order, selected with orderBy+limit which Spark plans as
    TakeOrderedAndProject: per-partition top-k heaps, no global
    sort), broadcast it against the exploded token stream, report per
    lang the exact in-vocab vs total token counts and distinct OOV
    types. The corpus is scanned once for counting and once for
    coverage; the vocabulary side is O(k) everywhere. k=12 of the
    synthetic corpus's 31-term vocabulary keeps the OOV branch
    non-vacuous at every sf (a real run would use 30k-250k)."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(tokens_expr("text")).alias("term"))
    vocab = (
        tok.groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(12)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    cov = tok.join(F.broadcast(vocab), "term", "left")
    return cov.groupBy("lang").agg(
        F.count("*").alias("total_tokens"),
        F.sum(F.coalesce("in_vocab", F.lit(0))).alias("in_vocab_tokens"),
        F.countDistinct(
            F.when(F.col("in_vocab").isNull(), F.col("term"))
        ).alias("n_oov_types"),
    )


VOCAB_COVERAGE_SQL = f"""
WITH tok AS (SELECT lang, unnest({_SQL_TOKENS}) AS term FROM documents),
vocab AS (SELECT term FROM (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1)
          ORDER BY cnt DESC, term LIMIT 12)
SELECT lang, COUNT(*) AS total_tokens,
       CAST(SUM(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS in_vocab_tokens,
       COUNT(DISTINCT CASE WHEN v.term IS NULL THEN tok.term END) AS n_oov_types
FROM tok LEFT JOIN vocab v USING (term) GROUP BY lang
"""


__all__ = [
    "token_stats_by_lang",
    "TOKEN_STATS_SQL",
    "quality_by_lang",
    "QUALITY_SQL",
    "lang_id_counts",
    "_lang_id_sql",
    "fingerprint_docs",
    "FINGERPRINT_SQL",
    "tfidf_top_terms",
    "TFIDF_SQL",
    "_SEARCH_TERMS",
    "_BM25_K1",
    "_BM25_B",
    "bm25_top_docs",
    "BM25_TOP_DOCS_SQL",
    "keyword_search_docs",
    "KEYWORD_SEARCH_SQL",
    "repetition_stats_docs",
    "REPETITION_STATS_SQL",
    "_BPE_K",
    "_BPE_BATCH_K",
    "_bpe_words",
    "bpe_batched_train_merges_docs",
    "_bpe_train_sql",
    "BPE_BATCHED_TRAIN_SQL",
    "bpe_train_merges_docs",
    "_bpe_learn",
    "bpe_encode_stats_docs",
    "_bpe_iteration_sql",
    "BPE_TRAIN_SQL",
    "BPE_ENCODE_SQL",
    "bpe_token_stats_docs",
    "BPE_TOKEN_STATS_SQL",
    "unigram_commonness_docs",
    "UNIGRAM_COMMONNESS_SQL",
    "top_bigrams_corpus",
    "TOP_BIGRAMS_SQL",
    "phrase_search_docs",
    "PHRASE_SEARCH_SQL",
    "pii_redaction_docs",
    "_pii_sql",
    "char_entropy_docs",
    "CHAR_ENTROPY_SQL",
    "vocab_coverage_docs",
    "VOCAB_COVERAGE_SQL",
]
