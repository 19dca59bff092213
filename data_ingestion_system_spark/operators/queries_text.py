"""Declared queries: text analysis over `documents` (north-star ops).

Every query here stays in whole-stage codegen (regexp/string built-ins);
the oracle SQL mirrors each formula term for term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_system_spark.catalog import Catalog
from data_ingestion_system_spark.operators import text as X
from data_ingestion_system_spark.registry import register

_STOP = "the|a|of|and|to|in|is|it"


@register("text_token_stats", f"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS n_tokens_ws,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens_bpe,
       len(regexp_extract_all(lower(text), '\\b({_STOP})\\b')) AS n_stop,
       length(text) AS n_chars_measured
FROM documents
""")
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex tokenizations per doc."""
    cat = Catalog(spark, sf_dir)
    t = F.col("text")
    return cat.wide_table("documents").select(
        "doc_id",
        X.n_tokens_ws(t).alias("n_tokens_ws"),
        X.n_tokens_bpe(t).alias("n_tokens_bpe"),
        X.n_stopwords(t).alias("n_stop"),
        F.length(t).alias("n_chars_measured"),
    )


@register("text_quality", f"""
WITH m AS (
  SELECT doc_id, lang,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS nt,
         CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) AS np,
         CAST(len(regexp_extract_all(lower(text), '\\b({_STOP})\\b')) AS DOUBLE) AS ns,
         CAST(length(text) AS DOUBLE) AS nc
  FROM documents)
SELECT doc_id, lang,
       round(0.3 * least(1.0, nt / 100.0)
           + 0.3 * (1.0 - np / greatest(nc, 1.0))
           + 0.4 * least(1.0, (ns / greatest(nt, 1.0)) * 4.0), 4) AS quality
FROM m
""")
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punctuation/stopword composite in [0,1]."""
    cat = Catalog(spark, sf_dir)
    return cat.wide_table("documents").select(
        "doc_id", "lang", X.quality_score(F.col("text")).alias("quality")
    )


def _marker_sql(lang: str) -> str:
    pat = r"\b(" + "|".join(X.LANG_MARKERS[lang]) + r")\b"
    return f"len(regexp_extract_all(lower(text), '{pat}'))"


@register("text_langid", f"""
WITH scores AS (
  SELECT doc_id, lang AS lang_true,
         {_marker_sql('en')} AS c_en,
         {_marker_sql('de')} AS c_de,
         {_marker_sql('es')} AS c_es,
         {_marker_sql('fr')} AS c_fr,
         {_marker_sql('zh')} AS c_zh
  FROM documents)
SELECT doc_id, lang_true, c_en, c_de, c_es, c_fr, c_zh,
       CASE WHEN c_en >= greatest(c_de, c_es, c_fr, c_zh) THEN 'en'
            WHEN c_de >= greatest(c_es, c_fr, c_zh) THEN 'de'
            WHEN c_es >= greatest(c_fr, c_zh) THEN 'es'
            WHEN c_fr >= c_zh THEN 'fr'
            ELSE 'zh' END AS lang_pred
FROM scores
""")
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-word votes with a fixed priority order
    on ties (en > de > es > fr > zh) so the argmax is deterministic."""
    cat = Catalog(spark, sf_dir)
    t = F.col("text")
    scores = cat.documents.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        X.lang_marker_count(t, "en").alias("c_en"),
        X.lang_marker_count(t, "de").alias("c_de"),
        X.lang_marker_count(t, "es").alias("c_es"),
        X.lang_marker_count(t, "fr").alias("c_fr"),
        X.lang_marker_count(t, "zh").alias("c_zh"),
    )
    pred = (
        F.when(F.col("c_en") >= F.greatest("c_de", "c_es", "c_fr", "c_zh"), "en")
        .when(F.col("c_de") >= F.greatest("c_es", "c_fr", "c_zh"), "de")
        .when(F.col("c_es") >= F.greatest("c_fr", "c_zh"), "es")
        .when(F.col("c_fr") >= F.col("c_zh"), "fr")
        .otherwise("zh")
    )
    return scores.withColumn("lang_pred", pred)


@register("text_fingerprint", """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
""")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over normalized text (O-41-adjacent;
    also the key for exact dedup)."""
    cat = Catalog(spark, sf_dir)
    return cat.documents.select(
        "doc_id", X.fingerprint_md5(F.col("text")).alias("fingerprint")
    )


@register("text_unigram_nll", """
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents),
freq AS (SELECT w, count(*) AS c FROM words GROUP BY w),
tot AS (SELECT sum(c) AS n FROM freq)
SELECT doc_id,
       round(avg(-ln(c * 1.0 / n)), 4) AS nll,
       count(*) AS n_tokens
FROM words JOIN freq USING (w), tot
GROUP BY doc_id
""")
def text_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality filtering, unigram form (the CCNet/Wiki-LM
    perplexity gate reduced to its distributable core): train the
    unigram model ON the corpus (one grouped count), then score each
    document by mean negative log-likelihood of its tokens.  The scoring
    join on the token key is deliberately UN-hinted: Heaps' law makes a
    whitespace vocabulary grow without practical bound on web-scale text
    (typos, numbers, URLs), so forcing a vocab broadcast would OOM at
    100 TB — AQE broadcasts a small vocab at runtime and falls back to
    a hash join on `w` (co-partitioned with the exploded tokens) when it
    is not.  The 1-row total always broadcasts.  Swapping the corpus
    model for an external n-gram table changes only that input."""
    cat = Catalog(spark, sf_dir)
    words = cat.documents.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"))
    freq = words.groupBy("w").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    return (
        words.join(freq, "w")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(-F.ln(F.col("c") * 1.0 / F.col("n"))), 4)
            .alias("nll"),
            F.count("*").alias("n_tokens"),
        )
    )


@register("text_repetition", """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents),
g AS (
  SELECT doc_id,
         list_transform(range(len(w) - 2),
                        i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS gr
  FROM toks WHERE len(w) >= 3)
SELECT doc_id,
       round(1.0 - len(list_distinct(gr)) * 1.0 / len(gr), 6) AS dup_gram_ratio
FROM g
""")
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition score (Gopher-style quality rule):
    fraction of word-3-grams that are repeats of an earlier gram in the
    same doc.  Boilerplate/spam scores high and gets filtered before
    training.  Entirely row-local higher-order functions — no shuffle,
    scales with scan bandwidth."""
    cat = Catalog(spark, sf_dir)
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    gr = F.expr(
        "transform(sequence(0, size(w) - 3), "
        "i -> concat_ws(' ', w[i], w[i + 1], w[i + 2]))")
    return (
        cat.documents.select("doc_id", w.alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(gr)).cast("double") / F.size(gr),
                6).alias("dup_gram_ratio"),
        )
    )


@register("text_chunk_windows", """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
s AS (
  SELECT doc_id, w,
         unnest(range(0, greatest(len(w), 1), 24)) AS start
  FROM t)
SELECT doc_id,
       CAST(start // 24 AS INTEGER) AS chunk_id,
       array_to_string(w[start + 1 : start + 32], ' ') AS chunk_text
FROM s
""")
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (32-token windows, stride 24 — the standard
    context-window prep for RAG/training corpora): one codegen'd
    sequence/slice explode, no shuffle at all — chunking is embarrassingly
    parallel at any scale.  The same semantics are exposed as a Python
    UDTF (functions/udtf.py::ChunkWindows) for cases needing real
    tokenizer libraries; equivalence is pinned in tests/test_text_ops.py."""
    from data_ingestion_system_spark.functions.udtf import chunk_rows

    cat = Catalog(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return (
        cat.wide_table("documents")
        .select("doc_id", F.explode(chunk_rows(toks)).alias("c"))
        .select("doc_id", F.col("c.chunk_id").alias("chunk_id"),
                F.col("c.chunk_text").alias("chunk_text"))
    )


@register("text_redact_pii", f"""
SELECT event_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(props, '{X.EMAIL_PATTERN}', '<EMAIL>', 'g'),
           '{X.PHONE_PATTERN}', '<PHONE>', 'g'),
         '{X.NUMBER_PATTERN}', '<NUM>', 'g') AS props_redacted
FROM events
""")
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-shaped scrubbing over the event payloads: email -> phone ->
    number masking as one codegen'd regexp_replace chain (the standard
    cheap scrub pass before a corpus reaches training).  Pattern strings
    are shared constants with the oracle SQL; synthetic true-positive
    cases (real emails/phones) are pinned in tests/test_text_ops.py."""
    cat = Catalog(spark, sf_dir)
    return cat.events.select(
        "event_id", X.redact_pii(F.col("props")).alias("props_redacted"))


PACK_TOKENS = 512  # target tokens per packed sequence


@register("text_pack_sequences", f"""
WITH sized AS (
  SELECT doc_id, lang,
         len(string_split_regex(trim(text), '\\s+')) AS n_tok
  FROM documents),
binned AS (
  SELECT doc_id, lang, n_tok,
         CAST(floor((sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tok)
                    / {PACK_TOKENS}.0) AS BIGINT) AS bin_id
  FROM sized)
SELECT lang, bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM binned
GROUP BY lang, bin_id
""")
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: assign documents (in stable
    doc_id order, per language) to ~512-token bins by running token count
    — the distributed form of greedy context-window packing.  bin_id =
    floor(cumulative_tokens_before_doc / target): one window pass + one
    aggregation, both partitioned by language, so no global sort and no
    driver-side loop.  (A doc larger than the target still lands in
    exactly one bin — same as the sequential packer.)"""
    cat = Catalog(spark, sf_dir)
    from pyspark.sql import Window

    sized = cat.documents.select(
        "doc_id", "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"),
    )
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    binned = sized.withColumn(
        "bin_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok"))
                / F.lit(float(PACK_TOKENS))).cast("bigint"),
    )
    return binned.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25, "es": 0.25, "fr": 0.1, "zh": 0.1}

_FRAC_CASE_SQL = ("CASE " + " ".join(
    f"WHEN lang = '{k}' THEN {v}" for k, v in SAMPLE_FRACTIONS.items())
    + " ELSE 0.0 END")

_STRATIFIED_SQL = f"""
SELECT doc_id, lang
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
      / 4503599627370496.0 < {_FRAC_CASE_SQL}
"""


@register("text_stratified_sample", _STRATIFIED_SQL)
def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling by language (training-data mix control) via
    DETERMINISTIC hash thresholding: keep a doc iff
    uniform(doc_id) < fraction(lang), where uniform() is the first 52
    bits of md5(doc_id) scaled to [0, 1).  Map-only, no shuffle, and —
    unlike engine-RNG ``sampleBy`` — the decision is a pure function of
    the ROW, so the sample is reproducible across runs, engines,
    repartitions, and incremental re-ingests (a re-run on appended data
    keeps exactly the docs it kept before).  That stability is what a
    training-mix pipeline actually needs at 100 TB; it also makes the
    query fully oracle-checkable (md5 is engine-portable).  Mix
    proportions are asserted in tests/test_text_ops.py; monotone-subset
    and partition-invariance properties in the same file."""
    cat = Catalog(spark, sf_dir)
    return X.hash_stratified_sample(
        cat.documents, SAMPLE_FRACTIONS).select("doc_id", "lang")


@register("text_winnow_fingerprint", """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents),
g AS (
  SELECT doc_id,
         list_transform(range(len(w) - 3),
             i -> md5(w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
             AS gr
  FROM t WHERE len(w) >= 4),
wins AS (
  SELECT doc_id,
         list_transform(range(greatest(len(gr) - 7, 1)),
             j -> list_min(gr[j+1:j+8])) AS fps
  FROM g)
SELECT doc_id, unnest(list_distinct(fps)) AS fp FROM wins
""")
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting by winnowing (Schleimer et al.,
    SIGMOD'03): hash every token 4-gram, slide a window of 8 hashes, keep
    each window's minimum — a locality-robust fingerprint set whose size
    is ~2/(8+1) of the gram count.  Entirely JVM higher-order functions
    (transform/sequence/slice/array_min): zero shuffles until the final
    distinct, zero Python.  Short docs (< 8 grams) contribute their global
    minimum; docs under 4 tokens have no gram and drop out (both engines).
    md5 makes the hash engine-portable, hence fully oracle-checked."""
    cat = Catalog(spark, sf_dir)
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(F.col("w")) - 4),
        lambda i: F.md5(F.concat_ws(
            " ", F.get("w", i), F.get("w", i + 1),
            F.get("w", i + 2), F.get("w", i + 3))),
    )
    wins = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(F.col("gr")) - 8, F.lit(0))),
        lambda j: F.array_min(F.slice(F.col("gr"), j + 1, 8)),
    )
    # per-doc array_distinct makes each (doc_id, fp) row unique already —
    # no global distinct shuffle needed (the oracle dedups listwise too)
    return (
        cat.wide_table("documents").select("doc_id", w.alias("w"))
        .filter(F.size("w") >= 4)
        .select("doc_id", grams.alias("gr"))
        .select("doc_id", F.explode(F.array_distinct(wins)).alias("fp"))
    )


@register("text_tfidf_topk", """
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents),
tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w),
dfreq AS (SELECT w, count(*) AS dfreq FROM tf GROUP BY w),
nd AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, w AS term,
         round(tf * ln((n_docs + 1.0) / (dfreq + 1.0)), 6) AS tfidf
  FROM tf JOIN dfreq USING (w), nd),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rnk
  FROM scored)
SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 3
""")
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 terms per document.  Term
    frequencies aggregate once on (doc_id, term); document frequencies
    derive from THAT aggregate (one extra shuffle over vocab-sized, not
    corpus-sized, data) and join back UN-hinted on the term key (AQE
    broadcasts a small vocab, hash-joins a web-scale one — a forced
    vocab broadcast would OOM under Heaps' law) with the 1-row corpus
    count always broadcast;
    the per-doc top-3 is a window over the doc_id partitioning the tf
    aggregate already produced — no second pass over raw text.  Ranking
    compares the ROUNDED score (6 dp) with a term tie-break so the
    ordering is reproducible across engines and partitionings; the raw
    double differs only below the rounding quantum."""
    cat = Catalog(spark, sf_dir)
    words = cat.documents.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"))
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("dfreq"))
    nd = cat.documents.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "w")
        .join(F.broadcast(nd))
        .select(
            "doc_id", F.col("w").alias("term"),
            F.round(
                F.col("tf")
                * F.ln((F.col("n_docs") + 1.0) / (F.col("dfreq") + 1.0)),
                6).alias("tfidf"))
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


@register("text_heavy_hitters", """
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
  FROM documents),
t AS (SELECT word FROM toks WHERE word <> '')
SELECT word, count(*) AS freq
FROM t GROUP BY word
HAVING count(*) * 256 > (SELECT count(*) FROM t)
""")
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters (terms above 1/256 of all token occurrences)
    via Misra-Gries sketch + exact verify — the bounded-memory form of
    "what dominates my training corpus".

    Two passes, both map-heavy: pass 1 runs the k=512 MG sketch per
    partition (operators/text.py::misra_gries_sketch) so only <= k rows
    per partition shuffle — never the vocabulary; with k = 2x the 1/256
    target the per-partition guarantee makes the candidate union a
    PROVEN superset of every true heavy hitter.  Pass 2 re-tokenizes
    with the candidate set broadcast as a left-semi filter (map-side
    drop of every non-candidate token) and counts exactly; the final
    integer-arithmetic filter (freq * 256 > N, no float threshold)
    leaves exactly the true heavy hitters, which is what the oracle's
    plain GROUP BY ... HAVING computes.  The sentinel rows from pass 1
    carry per-partition token counts, so N costs no third scan."""
    from data_ingestion_system_spark.operators.text import misra_gries_sketch

    cat = Catalog(spark, sf_dir)
    words = cat.documents.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    mg = misra_gries_sketch(words, k=512).persist()
    n_total = mg.filter(F.col("word") == "").agg(
        F.sum("cnt").alias("n"))
    cands = mg.filter(F.col("word") != "").select("word").distinct()
    exact = (
        words.join(F.broadcast(cands), "word", "left_semi")
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        exact.crossJoin(F.broadcast(n_total))
        .filter(F.col("freq") * 256 > F.col("n"))
        .select("word", "freq")
    )


@register("text_mix_entropy", """
WITH c AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
t AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
SELECT c.source, t.tot AS n_docs, count(*) AS n_langs,
       round(-sum((n * 1.0 / tot) * ln(n * 1.0 / tot)), 6) AS lang_entropy
FROM c JOIN t USING (source)
GROUP BY c.source, t.tot
""")
def text_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mix monitoring: Shannon entropy of the language distribution
    within each source — the drift alarm for corpus composition (a
    source whose entropy collapses has gone monolingual; one that
    spikes got polluted).  Two tiny aggregations: (source, lang)
    counts, then entropy over the language-cardinality-sized result —
    at 100 TB the raw corpus is touched once, map-combined, and
    everything after the first shuffle is KB-scale."""
    cat = Catalog(spark, sf_dir)
    c = cat.documents.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n"))
    t = c.groupBy("source").agg(F.sum("n").alias("tot"))
    p = F.col("n") / F.col("tot")
    return (
        c.join(t, "source")
        .groupBy("source", "tot")
        .agg(
            F.count(F.lit(1)).alias("n_langs"),
            F.round(-F.sum(p * F.log(p)), 6).alias("lang_entropy"),
        )
        .select("source", F.col("tot").alias("n_docs"),
                "n_langs", "lang_entropy")
    )


@register("text_boilerplate_ngrams", r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
grams AS (
  SELECT doc_id, array_to_string(tk[i:i+4], ' ') AS gram
  FROM toks, unnest(range(1, greatest(len(tk) - 3, 1))) AS t(i)),
df AS (
  SELECT gram, count(DISTINCT doc_id) AS ndocs FROM grams GROUP BY gram),
boiler AS (SELECT gram FROM df WHERE ndocs >= 3),
per_doc AS (
  SELECT g.doc_id,
         count(*) AS n_grams,
         sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
  FROM grams g LEFT JOIN boiler b USING (gram)
  GROUP BY g.doc_id)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_boiler AS BIGINT) AS n_boiler,
       round(n_boiler / greatest(n_grams, 1), 4) AS boiler_frac
FROM per_doc
""")
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (the C4 "three-sentence
    span seen before" rule re-expressed at 5-gram granularity): any
    5-gram occurring in >= 3 distinct documents is boilerplate
    (headers, footers, license blurbs, templated spans), and each doc
    reports how much of it is covered by such spans — the pruning
    signal for repeated-content removal in pretraining corpora.

    Scale shape: tokenize + gram expansion is map-only (one
    whole-stage-codegen'd transform/posexplode per doc, no Python);
    the gram -> distinct-doc-count table is one map-combined hash agg
    keyed on the gram string; the rejoin streams grams back through a
    shuffle join keyed the same way, so the two heavy stages share
    their partitioning.  Nothing is quadratic: cost is O(total tokens)
    rows through two shuffles regardless of corpus size.  Docs shorter
    than 5 tokens produce zero grams and drop out in BOTH engines
    (explode of an empty array / unnest of an empty range)."""
    cat = Catalog(spark, sf_dir)
    tk = F.split(F.trim(F.col("text")), r"\s+")
    grams = (
        cat.wide_table("documents")
        .select("doc_id", tk.alias("tk"))
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("tk") >= 5,
                    F.transform(
                        F.sequence(F.lit(1), F.size("tk") - 4),
                        lambda i: F.array_join(F.slice(F.col("tk"), i, 5), " "),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        )
    )
    boiler = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 3)
        .select("gram", F.lit(1).alias("is_boiler"))
    )
    return (
        grams.join(boiler, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0)))
            .cast("bigint").alias("n_boiler"),
        )
        .select(
            "doc_id", "n_grams", "n_boiler",
            F.round(F.col("n_boiler") / F.greatest(F.col("n_grams"), F.lit(1)),
                    4).alias("boiler_frac"),
        )
    )


@register("text_bigram_pmi", r"""
WITH toks AS (
  SELECT string_split_regex(trim(text), '\s+') AS tk FROM documents),
uni AS (SELECT unnest(tk) AS w FROM toks),
uc AS (SELECT w, count(*) AS cw FROM uni GROUP BY w),
n1 AS (SELECT CAST(sum(cw) AS DOUBLE) AS n FROM uc),
big AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2
  FROM toks, unnest(range(1, greatest(len(tk), 1))) AS t(i)),
n2 AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM big),
bc AS (
  SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2
  HAVING count(*) >= 10)
SELECT w1, w2, CAST(cb AS BIGINT) AS support,
       round(ln((cb / n2.n) / ((a.cw / n1.n) * (b.cw / n1.n))), 4) AS pmi
FROM bc
JOIN uc a ON bc.w1 = a.w
JOIN uc b ON bc.w2 = b.w
CROSS JOIN n1 CROSS JOIN n2
ORDER BY pmi DESC, w1, w2
LIMIT 20
""")
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 adjacent word pairs by pointwise
    mutual information (min support 10) — the classic signal for
    multi-word expressions ("new york") that should survive tokenizer
    vocabulary induction as single units.

    Scale shape: unigram and bigram counts are independent
    map-combined hash aggs over one pass of the corpus; the PMI join
    touches only the *aggregated* vocab/bigram tables (vocabulary-
    sized, not corpus-sized), and the two corpus totals ride along as
    1-row broadcast cross joins.  The final ranking is a distributed
    top-k (TakeOrderedAndProject), never a global sort."""
    cat = Catalog(spark, sf_dir)
    tk = F.split(F.trim(F.col("text")), r"\s+")
    toks = cat.documents.select(tk.alias("tk"))
    uni = toks.select(F.explode("tk").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    n1 = uc.agg(F.sum("cw").cast("double").alias("n1"))
    big = (
        toks.select(
            "tk",
            F.explode(
                F.when(F.size("tk") >= 2,
                       F.sequence(F.lit(1), F.size("tk") - 1))
                .otherwise(F.array().cast("array<int>"))).alias("i"),
        )
        .select(F.element_at("tk", F.col("i")).alias("w1"),
                F.element_at("tk", F.col("i") + 1).alias("w2"))
    )
    n2 = big.agg(F.count(F.lit(1)).cast("double").alias("n2"))
    bc = (big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
          .filter(F.col("cb") >= 10))
    return (
        bc.join(uc.select(F.col("w").alias("w1"), F.col("cw").alias("cw1")),
                "w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("cw").alias("cw2")),
              "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "w1", "w2", F.col("cb").cast("bigint").alias("support"),
            F.round(
                F.log((F.col("cb") / F.col("n2"))
                      / ((F.col("cw1") / F.col("n1"))
                         * (F.col("cw2") / F.col("n1")))), 4).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


_TEMP_ALPHA = 0.3       # sampling temperature (XLM-R style alpha)
_HASH_MOD = 1000003     # prime modulus for the deterministic unit hash
_HASH_MULT = 2654435761  # Knuth multiplicative constant


@register("text_temperature_sample", f"""
WITH lc AS (
  SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM lc),
q AS (
  SELECT lang, n, pow(n / t, {_TEMP_ALPHA}) AS ql FROM lc CROSS JOIN tot),
mx AS (SELECT max(ql / n) AS peak FROM q),
rate AS (
  SELECT lang, n, round((ql / n) / peak, 6) AS keep_prob
  FROM q CROSS JOIN mx),
kept AS (
  SELECT d.lang,
         sum(CASE WHEN (((d.doc_id % {_HASH_MOD}) * {_HASH_MULT % _HASH_MOD}) % {_HASH_MOD})
                       / CAST({_HASH_MOD} AS DOUBLE) < r.keep_prob
                  THEN 1 ELSE 0 END) AS n_kept
  FROM documents d JOIN rate r USING (lang)
  GROUP BY d.lang)
SELECT r.lang, CAST(r.n AS BIGINT) AS n_docs, r.keep_prob,
       CAST(k.n_kept AS BIGINT) AS n_kept
FROM rate r JOIN kept k USING (lang)
""")
def text_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (the XLM-R / mT5 data-mix
    rule): target language share q_l ∝ p_l^alpha flattens the
    distribution toward low-resource languages; each language gets a
    per-DOC keep probability proportional to q_l / n_l (normalized so
    the most up-weighted language keeps everything), and docs are
    kept by a deterministic integer hash of doc_id — reproducible
    sampling with no RNG state, so reruns and retries select the same
    corpus (critical for training-data lineage).

    Scale shape: language counts are one map-combined agg over a
    KB-sized result; the keep/drop pass is map-only (the per-lang rate
    table broadcasts), and the hash is pure integer arithmetic in
    whole-stage codegen.  The oracle replays the identical modular
    hash, so selection parity is exact, not statistical."""
    cat = Catalog(spark, sf_dir)
    lc = cat.documents.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("n"))
    tot = lc.agg(F.sum("n").alias("t"))
    q = lc.crossJoin(F.broadcast(tot)).select(
        "lang", "n", F.pow(F.col("n") / F.col("t"), F.lit(_TEMP_ALPHA))
        .alias("ql"))
    mx = q.agg(F.max(F.col("ql") / F.col("n")).alias("peak"))
    rate = q.crossJoin(F.broadcast(mx)).select(
        "lang", "n",
        F.round((F.col("ql") / F.col("n")) / F.col("peak"), 6)
        .alias("keep_prob"))
    # pre-mod keeps the product BIGINT-safe at any doc_id (sf10 ids
    # overflow the raw multiply under ANSI); (d*S) mod p == ((d mod p)(S mod p)) mod p
    u = (((F.col("doc_id") % F.lit(_HASH_MOD))
          * F.lit(_HASH_MULT % _HASH_MOD)) % F.lit(_HASH_MOD)) \
        / F.lit(float(_HASH_MOD))
    kept = (
        cat.documents.join(F.broadcast(rate), "lang")
        .groupBy("lang")
        .agg(F.sum(F.when(u < F.col("keep_prob"), 1).otherwise(0))
             .alias("n_kept"))
    )
    return (
        rate.join(kept, "lang")
        .select("lang", F.col("n").cast("bigint").alias("n_docs"),
                "keep_prob", F.col("n_kept").cast("bigint").alias("n_kept"))
    )


@register("text_zipf_slope", r"""
WITH uni AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
uc AS (SELECT w, count(*) AS cw FROM uni GROUP BY w),
ranked AS (
  SELECT cw, row_number() OVER (ORDER BY cw DESC, w) AS rnk FROM uc),
top AS (SELECT * FROM ranked WHERE rnk <= 1000)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       round(regr_slope(ln(CAST(cw AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4)
         AS zipf_slope,
       round(regr_r2(ln(CAST(cw AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4)
         AS zipf_r2
FROM top
""")
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health check: fit log(frequency) ~ log(rank) over the top
    1000 vocabulary terms.  Natural text follows Zipf's law with slope
    ≈ -1; a much flatter slope flags synthetic/templated text, a
    cliff flags boilerplate domination — a one-row monitor worth
    running on every ingested crawl shard.

    Scale shape: vocab counts are one map-combined agg; the top 1000
    terms come out of a distributed top-k (TakeOrderedAndProject —
    never a global sort of the vocabulary), the rank window then runs
    over that 1000-row bounded set, and the regression is a single
    co-moment aggregate.  The corpus is touched exactly once."""
    cat = Catalog(spark, sf_dir)
    tk = F.split(F.trim(F.col("text")), r"\s+")
    uc = (cat.documents.select(F.explode(tk).alias("w"))
          .groupBy("w").agg(F.count(F.lit(1)).alias("cw")))
    # top-k FIRST (distributed), then rank within the bounded result:
    # row_number's unpartitioned window only ever sees <= 1000 rows
    top1000 = uc.orderBy(F.col("cw").desc(), "w").limit(1000)
    wnd = Window.orderBy(F.col("cw").desc(), "w")
    top = top1000.withColumn("rnk", F.row_number().over(wnd))
    lc = F.log(F.col("cw").cast("double"))
    lr = F.log(F.col("rnk").cast("double"))
    return top.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.round(F.regr_slope(lc, lr), 4).alias("zipf_slope"),
        F.round(F.regr_r2(lc, lr), 4).alias("zipf_r2"),
    )


_STRATUM_N = 20  # fixed sample size per (source, lang) stratum


@register("text_sample_per_stratum", f"""
WITH h AS (
  SELECT doc_id, source, lang,
         ((doc_id % 1000003) * (2654435761 % 1000003)) % 1000003 AS hkey
  FROM documents),
r AS (
  SELECT doc_id, source, lang, hkey,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY hkey, doc_id) AS rnk
  FROM h)
SELECT source, lang, doc_id, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= {_STRATUM_N}
""")
def text_sample_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-stratum sampling: exactly min(N, 20) docs from
    every (source, lang) cell, selected by ranking a deterministic
    integer hash — the eval-set builder (same cells, same docs, every
    run) complementing `text_stratified_sample`'s fractional mix
    control.

    Scale shape: one window partitioned on the stratum key; rows
    beyond rank 20 are discarded by the WindowGroupLimit pushdown
    (Spark 3.5+ stops ranking a partition after the limit), so state
    per partition is O(20), not O(stratum).  The hash makes the
    selection engine-portable, unlike TABLESAMPLE whose RNG is
    engine-specific."""
    cat = Catalog(spark, sf_dir)
    h = cat.documents.select(
        "doc_id", "source", "lang",
        (((F.col("doc_id") % F.lit(1000003))
          * F.lit(2654435761 % 1000003)) % F.lit(1000003))
        .alias("hkey"))
    wnd = Window.partitionBy("source", "lang").orderBy("hkey", "doc_id")
    return (
        h.withColumn("rnk", F.row_number().over(wnd))
        .filter(F.col("rnk") <= _STRATUM_N)
        .select("source", "lang", "doc_id",
                F.col("rnk").cast("bigint").alias("rnk"))
    )


_KFOLD = 5


@register("text_kfold_assign", f"""
WITH f AS (
  SELECT lang, ((doc_id % {_KFOLD}) * {_HASH_MULT % _KFOLD}) % {_KFOLD} AS fold
  FROM documents)
SELECT lang, CAST(fold AS BIGINT) AS fold, count(*) AS n_docs
FROM f GROUP BY lang, fold
""")
def text_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    multiplicative-hash(doc_id) mod 5, reported as per-(lang, fold)
    counts so the balance of every fold within every language is
    auditable before training.  Same reproducibility contract as the
    engine's other samplers (pure integer arithmetic, no RNG state —
    a rerun or a retried task assigns identical folds), and the
    oracle replays the hash exactly.  One map-combined agg over a
    langs x k grid."""
    cat = Catalog(spark, sf_dir)
    fold = ((F.col("doc_id") % F.lit(_KFOLD))
            * F.lit(_HASH_MULT % _KFOLD)) % F.lit(_KFOLD)
    return (cat.documents
            .select("lang", fold.cast("bigint").alias("fold"))
            .groupBy("lang", "fold")
            .agg(F.count(F.lit(1)).alias("n_docs")))


@register("text_ttr", r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
  FROM documents)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(w)) AS BIGINT) AS n_types,
       round(len(list_distinct(w)) * 1.0 / greatest(len(w), 1), 6) AS ttr
FROM t
""")
def text_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity (type-token ratio) per document: distinct
    words over total words.  Low-TTR docs are listy/templated/spammy;
    with `text_repetition` (adjacent-gram repeats) and the Zipf
    monitor (corpus level) it completes the richness axis of quality
    filtering.  Pure row-local array functions — zero shuffles, scales
    with scan bandwidth."""
    cat = Catalog(spark, sf_dir)
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    return cat.documents.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("bigint").alias("n_types"),
        F.round(F.size(F.array_distinct(w)).cast("double")
                / F.greatest(F.size(w), F.lit(1)), 6).alias("ttr"),
    )


@register("text_charset_profile", r"""
SELECT source,
       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]'))) AS BIGINT)
         AS n_alpha,
       CAST(sum(len(regexp_extract_all(text, '[0-9]'))) AS BIGINT)
         AS n_digit,
       CAST(sum(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))) AS BIGINT)
         AS n_other
FROM documents
GROUP BY source
""")
def text_charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class profile per source: alpha/digit/other volumes —
    the cheap encoding-health monitor (a source whose 'other' share
    jumps has picked up markup, mojibake, or binary bleed).  Pure
    codegen'd regexp counts folded by one map-combined agg onto the
    source domain; integer outputs, no float portability surface."""
    cat = Catalog(spark, sf_dir)
    t = F.col("text")

    def n(pat):
        return F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))

    return cat.documents.groupBy("source").agg(
        F.sum(F.length(t)).cast("bigint").alias("n_chars"),
        F.sum(n("[A-Za-z]")).cast("bigint").alias("n_alpha"),
        F.sum(n("[0-9]")).cast("bigint").alias("n_digit"),
        F.sum(n(r"[^A-Za-z0-9\s]")).cast("bigint").alias("n_other"),
    )


_DSIR_BUCKETS = 64
_DSIR_TARGET_LANG = "en"

@register("text_dsir_weights", f"""
WITH words AS (
  SELECT doc_id,
         lang,
         CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % {_DSIR_BUCKETS} AS b
  FROM (SELECT doc_id, lang,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM documents)),
dist AS (
  SELECT b, count(*) AS cr,
         sum(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS ct
  FROM words GROUP BY b),
tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM dist),
lr AS (
  SELECT b, ln((ct + 1.0) / (nt + {_DSIR_BUCKETS}))
           - ln((cr + 1.0) / (nr + {_DSIR_BUCKETS})) AS lr
  FROM dist, tot)
SELECT doc_id,
       round(sum(lr), 4) + 0.0 AS dsir_logweight,
       count(*) AS n_tokens
FROM words JOIN lr USING (b)
GROUP BY doc_id
""")
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection with importance resampling (Xie et al.
    2023, arXiv:2302.03169): score every document by how much more
    likely its hashed-n-gram features are under a TARGET distribution
    (here: the English slice) than under the RAW corpus distribution —
    the standard recipe for skimming a web-scale crawl toward a
    curated-domain mix.

    Why this shape survives 100 TB: the feature space is HASHED into a
    fixed 64-bucket table, so unlike a vocabulary join
    (Heaps-law unbounded, see text_unigram_nll) the per-token scoring
    join is against a table whose size is a compile-time constant —
    broadcast unconditionally, no shuffle on the token stream; the two
    distributions come from one map-combined groupBy over the same
    token pass, and the per-doc reduce is one hash aggregation.  Output:
    additive log importance weight per doc (resample with
    text_temperature_sample-style deterministic hashing on exp(w/T)).

    Feature hash is the portable md5-60bit idiom (dedup.py SimHash) so
    DuckDB replays bucket assignment bit-for-bit.
    """
    cat = Catalog(spark, sf_dir)
    B = _DSIR_BUCKETS
    words = cat.documents.select(
        "doc_id", "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"))
    tokb = words.select(
        "doc_id", "lang",
        (F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long") % B)
        .alias("b"))
    # persist the <=64-row distribution: tot and lr both read it, and
    # without materialization each would re-run the full token pass
    # (two extra corpus scans at 100 TB for a table that fits in a page)
    dist = tokb.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum(F.when(F.col("lang") == _DSIR_TARGET_LANG, 1).otherwise(0))
        .alias("ct")).persist()
    tot = dist.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    lr = (dist.crossJoin(F.broadcast(tot))  # 1-row scalar attach
          .select("b",
                  (F.ln((F.col("ct") + 1.0) / (F.col("nt") + B))
                   - F.ln((F.col("cr") + 1.0) / (F.col("nr") + B)))
                  .alias("lr")))
    return (tokb.join(F.broadcast(lr), "b")  # <= B rows by construction
            .groupBy("doc_id")
            .agg((F.round(F.sum("lr"), 4) + 0.0)  # fold IEEE -0.0
                 .alias("dsir_logweight"),
                 F.count("*").alias("n_tokens")))


@register("text_bigram_nll", """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents),
big AS (
  SELECT doc_id, w[i+1] AS w1, w[i+2] AS w2
  FROM toks, UNNEST(range(len(w) - 1)) AS t(i)),
uni AS (
  SELECT w[i+1] AS w1, count(*) AS c1
  FROM toks, UNNEST(range(len(w))) AS t(i) GROUP BY 1),
bc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
v AS (SELECT count(*) AS vsz FROM uni)
SELECT doc_id,
       round(avg(-ln((c12 + 1.0) / (c1 + vsz))), 4) AS bigram_nll,
       count(*) AS n_bigrams
FROM big JOIN bc USING (w1, w2) JOIN uni USING (w1), v
GROUP BY doc_id
""")
def text_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM quality filtering, bigram form (one Markov order up from
    text_unigram_nll — the distributable core of the CCNet/KenLM
    perplexity gate): train add-one-smoothed bigram counts ON the
    corpus, then score each doc by mean -ln p(w2|w1).

    Scale posture mirrors the unigram query: the conditional-count and
    unigram-context joins stay UN-hinted (bigram vocabulary grows
    superlinearly under Heaps' law, so a forced broadcast would OOM at
    100 TB; AQE picks broadcast only while the vocab is provably small,
    else the exploded token stream hash-joins co-partitioned on the
    gram key); the 1-row vocabulary size always broadcasts.  Bigrams
    are sliced from the token array JVM-side (transform over sequence,
    no Python).  Docs with one token have no bigrams and drop out on
    both engines alike."""
    cat = Catalog(spark, sf_dir)
    toks = cat.documents.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w"))
    words = toks.select(F.explode("w").alias("w1"))
    # persist the vocabulary: the scoring join AND the vocab-size scalar
    # both read it, and ReuseExchange does not canonicalize across the
    # two consumers — unpersisted, each re-runs the token explode+count.
    # Cache cost is vocab-bounded (Heaps' law, << token stream);
    # MEMORY_AND_DISK spills rather than recomputes at 100 TB.
    uni = words.groupBy("w1").agg(F.count("*").alias("c1")).persist()
    big = (toks.filter(F.size("w") >= 2)  # sequence() needs a valid stop
           .select("doc_id", F.explode(F.expr(
               "transform(sequence(0, size(w) - 2), "
               "i -> struct(w[i] AS w1, w[i + 1] AS w2))")).alias("bg"))
           .select("doc_id", "bg.w1", "bg.w2"))
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    v = uni.agg(F.count("*").alias("vsz"))
    return (big.join(bc, ["w1", "w2"]).join(uni, "w1")
            .crossJoin(F.broadcast(v))
            .groupBy("doc_id")
            .agg(F.round(F.avg(-F.ln((F.col("c12") + 1.0)
                                     / (F.col("c1") + F.col("vsz")))), 4)
                 .alias("bigram_nll"),
                 F.count("*").alias("n_bigrams")))


@register("text_gopher_rules", f"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\\s+') AS w,
         length(text) - length(replace(replace(text, '#', ''), '...', '')) AS n_sym,
         len(regexp_extract_all(lower(text), '\\b({_STOP})\\b')) AS n_stop
  FROM documents),
m AS (
  SELECT doc_id,
         len(w) AS n_words,
         round(list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w), 4)
           AS mean_word_len,
         round(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1.0
               / len(w), 4) AS alpha_frac,
         round(n_sym * 1.0 / len(w), 4) AS symbol_ratio,
         n_stop
  FROM t)
SELECT doc_id, n_words, mean_word_len, alpha_frac, symbol_ratio, n_stop,
       (n_words BETWEEN 50 AND 100000) AS ok_word_count,
       (mean_word_len BETWEEN 3 AND 10) AS ok_word_len,
       (alpha_frac >= 0.8) AS ok_alpha,
       (symbol_ratio <= 0.1) AS ok_symbols,
       (n_stop >= 2) AS ok_stopwords,
       ((n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3 AND 10)
        AND alpha_frac >= 0.8 AND symbol_ratio <= 0.1 AND n_stop >= 2)
         AS pass_all
FROM m
""")
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021, table A1):
    the standard pre-training filter bundle as one declared query —
    word-count bounds [50, 100k], mean word length in [3, 10], >= 80%
    words containing an alphabetic character, symbol-to-word ratio
    (# / ellipsis) <= 0.1, and >= 2 stopwords — with each rule emitted
    as its own boolean next to the measured statistic so downstream
    filtering can report per-rule rejection rates, not just a verdict.

    Scale shape: every statistic is a row-local higher-order function
    over the token array (transform/filter/aggregate) — zero shuffles,
    zero joins, zero Python; the whole query is one scan-project that
    runs at parquet bandwidth regardless of corpus size.  Ref parity:
    the reference has no quality surface (its filters are five equality
    predicates, src/services/audit.services.ts:148-163); this is
    north-star LLM-pipeline scope.
    """
    cat = Catalog(spark, sf_dir)
    t = F.col("text")
    w = F.split(F.trim(F.lower(t)), r"\s+")
    n_words = F.size("w").cast("long")
    sum_len = F.aggregate(
        F.transform(F.col("w"), lambda x: F.length(x)),
        F.lit(0), lambda acc, x: acc + x)
    n_alpha = F.size(F.filter(F.col("w"), lambda x: x.rlike("[a-z]")))
    mean_wl = F.round(sum_len.cast("double") / n_words, 4)
    alpha_frac = F.round(n_alpha.cast("double") / n_words, 4)
    sym_ratio = F.round(F.col("n_sym").cast("double") / n_words, 4)
    base = cat.wide_table("documents").select(
        "doc_id", w.alias("w"),
        (F.length(t)
         - F.length(F.replace(F.replace(t, F.lit("#"), F.lit("")),
                              F.lit("..."), F.lit("")))).alias("n_sym"),
        X.n_stopwords(t).cast("long").alias("n_stop"))
    m = base.select(
        "doc_id", n_words.alias("n_words"), mean_wl.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"), sym_ratio.alias("symbol_ratio"),
        "n_stop")
    ok_wc = F.col("n_words").between(50, 100000)
    ok_wl = F.col("mean_word_len").between(3, 10)
    ok_al = F.col("alpha_frac") >= 0.8
    ok_sy = F.col("symbol_ratio") <= 0.1
    ok_st = F.col("n_stop") >= 2
    return m.select(
        "doc_id", "n_words", "mean_word_len", "alpha_frac", "symbol_ratio",
        "n_stop",
        ok_wc.alias("ok_word_count"), ok_wl.alias("ok_word_len"),
        ok_al.alias("ok_alpha"), ok_sy.alias("ok_symbols"),
        ok_st.alias("ok_stopwords"),
        (ok_wc & ok_wl & ok_al & ok_sy & ok_st).alias("pass_all"))


@register("text_top2gram_chars", """
WITH toks AS (
  SELECT doc_id,
         length(regexp_replace(text, '\\s', '', 'g')) AS chars_ns,
         string_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents),
g AS (
  SELECT doc_id, chars_ns,
         unnest(list_transform(range(len(w) - 1),
                               i -> w[i + 1] || ' ' || w[i + 2])) AS gram
  FROM toks WHERE len(w) >= 2),
c AS (
  SELECT doc_id, chars_ns, gram, count(*) AS cnt
  FROM g GROUP BY 1, 2, 3),
m AS (
  SELECT doc_id, chars_ns, gram, cnt,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, gram DESC) AS rn
  FROM c)
SELECT doc_id, gram AS top_gram, cnt AS top_cnt,
       round(cnt * length(replace(gram, ' ', '')) * 1.0 / chars_ns, 6)
         AS top2gram_char_frac
FROM m WHERE rn = 1
""")
def text_top2gram_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rule "fraction of characters contained in the
    most frequent word-2-gram" (Rae et al. 2021, table A1 — docs above
    0.20 are dropped before training).  Char-weighted, so it catches
    the long-phrase spam that the count-weighted `text_repetition`
    (distinct-3-gram ratio) under-scores; the two together cover the
    intra-doc repetition family.  Ties on count break to the
    lexicographically largest gram on BOTH sides, so the winner is
    deterministic.

    Scale shape: gram explode is scan-side; counting is one hash agg on
    (doc_id, gram) with map-side partial aggregation, then the per-doc
    argmax is a second map-combined `max_by` agg on doc_id alone — both
    shuffles move doc-key-sized aggregates, never text, and per-doc
    cardinality bounds state.  No windows, no joins, no Python.  Ref
    parity: reference has no quality surface
    (src/services/audit.services.ts:148-163); north-star scope.
    """
    cat = Catalog(spark, sf_dir)
    t = F.col("text")
    w = F.split(F.trim(F.lower(t)), r"\s+")
    grams = F.expr("transform(sequence(0, size(w) - 2), "
                   "i -> concat_ws(' ', w[i], w[i + 1]))")
    counted = (
        cat.documents
        .select("doc_id",
                F.length(F.regexp_replace(t, r"\s", "")).alias("chars_ns"),
                w.alias("w"))
        .filter(F.size("w") >= 2)
        .select("doc_id", "chars_ns", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "chars_ns", "gram")
        .agg(F.count(F.lit(1)).alias("cnt")))
    top = (counted
           .groupBy("doc_id", "chars_ns")
           .agg(F.max_by("gram", F.struct("cnt", "gram")).alias("top_gram"),
                F.max("cnt").alias("top_cnt")))
    return top.select(
        "doc_id", "top_gram", "top_cnt",
        F.round(F.col("top_cnt")
                * F.length(F.replace(F.col("top_gram"), F.lit(" "), F.lit("")))
                / F.col("chars_ns"), 6).alias("top2gram_char_frac"))


@register("text_perplexity_buckets", """
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents),
freq AS (SELECT w, count(*) AS c FROM words GROUP BY w),
tot AS (SELECT sum(c) AS n FROM freq),
nll AS (
  SELECT doc_id, round(avg(-ln(c * 1.0 / n)), 4) AS nll
  FROM words JOIN freq USING (w), tot
  GROUP BY doc_id)
SELECT d.doc_id, d.lang, nll.nll,
       ntile(3) OVER (PARTITION BY d.lang ORDER BY nll.nll, d.doc_id)
         AS bucket
FROM nll JOIN documents d USING (doc_id)
""")
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity gate (Wenzek et al. 2020): score every doc
    with the corpus-trained unigram LM (text_unigram_nll's model), then
    split EACH LANGUAGE into head / middle / tail terciles of the score
    — bucket 1 is the best (lowest-NLL) third, the slice CCNet keeps.

    The tercile is an EXACT per-language ntile(3), computed WITHOUT a
    per-language window (lang cardinality is tiny, so `PARTITION BY
    lang` would serialize each language's entire corpus through one
    task — the same trap agg_equidepth_histogram's global ntile was,
    one level down).  Same TeraSort-rank cure, grouped:

    1. per-lang `percentile_approx` range cuts (a lang -> cuts map of
       driver literals — langs are a bounded codebook, never data);
       cuts steer LOAD BALANCE only, correctness never depends on
       where they land because pid is monotone in the sort key;
    2. per-(lang, pid) counts -> prefix-sum offsets (driver literals,
       |langs| x nparts longs);
    3. `row_number` over (PARTITION BY lang, pid ORDER BY nll, doc_id)
       + offset = exact rank within language, every window task holds
       ~N_lang/nparts rows;
    4. bucket from rank by ntile's own fill rule (first N%3 buckets
       take one extra row), per-lang sizes again map literals.

    Ranking orders on the ROUNDED (4 dp) score so the order — and the
    bucket — is engine-portable: ties in the rounded score break by
    doc_id on both engines; cross-engine float noise below 1e-4 cannot
    flip neighbors.  pid/offset/fill lookups are `element_at` on map
    literals evaluated JVM-side — no when-chain grows with |langs|, so
    codegen width stays constant (memory: spark-codegen-jit-pathology).
    Ref parity: none (the reference has no quality surface); CCNet is
    north-star LLM-curation scope."""
    cat = Catalog(spark, sf_dir)
    docs = cat.documents
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"))
    freq = words.groupBy("w").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    nll = (words.join(freq, "w")
           .join(F.broadcast(tot))
           .groupBy("doc_id")
           .agg(F.round(F.avg(-F.ln(F.col("c") * 1.0 / F.col("n"))), 4)
                .alias("nll")))
    scored = nll.join(docs.select("doc_id", "lang"), "doc_id").persist()

    nparts = max(4, min(16, spark.sparkContext.defaultParallelism // 2))
    probs = [i / nparts for i in range(1, nparts)]
    cut_rows = (scored.groupBy("lang")
                .agg(F.percentile_approx("nll", probs, 1_000).alias("b"))
                .collect())
    cuts = {r["lang"]: [float(x) for x in r["b"]] for r in cut_rows}

    cuts_map = F.create_map(*[
        x for lang, cs in sorted(cuts.items())
        for x in (F.lit(lang), F.array(*[F.lit(c) for c in cs]))])
    # pid = #cuts <= nll: monotone in nll, so ranks concatenate across pids
    pid = F.size(F.filter(F.element_at(cuts_map, F.col("lang")),
                          lambda c: c <= F.col("nll")))
    staged = scored.withColumn("pid", pid)

    counts: dict[str, dict[int, int]] = {}
    for r in (staged.groupBy("lang", "pid")
              .agg(F.count("*").alias("cnt")).collect()):
        counts.setdefault(r["lang"], {})[r["pid"]] = r["cnt"]
    offsets, bases, rems, heads = {}, {}, {}, {}
    for lang, per_pid in counts.items():
        acc, offs = 0, []
        for p in range(nparts):
            offs.append(acc)
            acc += per_pid.get(p, 0)
        offsets[lang] = offs
        base, rem = divmod(acc, 3)
        bases[lang], rems[lang] = base, rem
        heads[lang] = rem * (base + 1)

    def _long_map(d: dict[str, int]):
        return F.create_map(*[
            x for lang in sorted(d) for x in (F.lit(lang), F.lit(d[lang]))])

    off_map = F.create_map(*[
        x for lang in sorted(offsets)
        for x in (F.lit(lang),
                  F.array(*[F.lit(o) for o in offsets[lang]]))])
    base_c = F.element_at(_long_map(bases), F.col("lang"))
    rem_c = F.element_at(_long_map(rems), F.col("lang"))
    head_c = F.element_at(_long_map(heads), F.col("lang"))
    off = F.element_at(F.element_at(off_map, F.col("lang")),
                       F.col("pid") + 1)

    w = Window.partitionBy("lang", "pid").orderBy("nll", "doc_id")
    rank = (F.row_number().over(w) + off).alias("rank")
    ranked = staged.select("doc_id", "lang", "nll", rank,
                           base_c.alias("base"), rem_c.alias("rem"),
                           head_c.alias("head"))
    r0 = F.col("rank") - 1
    bucket = (
        F.when(F.col("base") == 0, F.col("rank"))
        .when(F.col("rank") <= F.col("head"),
              F.floor(r0 / (F.col("base") + 1)) + 1)
        .otherwise(F.col("rem")
                   + F.floor((r0 - F.col("head")) / F.col("base")) + 1))
    out = ranked.select("doc_id", "lang", "nll",
                        bucket.cast("long").alias("bucket"))
    scored.unpersist()
    return out


_BM25_TERMS = ("hash", "join", "vector")  # fixed keyword query
_BM25_K1, _BM25_B = 1.2, 0.75

@register("text_bm25_topk", f"""
WITH q(term) AS (VALUES {", ".join(f"('{t}')" for t in _BM25_TERMS)}),
dl AS (
  SELECT doc_id, len(string_split_regex(trim(lower(text)), '\\s+')) AS dl
  FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
words AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents),
tf AS (
  SELECT doc_id, w, count(*) AS tf
  FROM words JOIN q ON w = term
  GROUP BY doc_id, w),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             * tf * ({_BM25_K1} + 1)
             / (tf + {_BM25_K1}
                     * (1 - {_BM25_B} + {_BM25_B} * dl.dl / avgdl))) AS s,
         count(*) AS n_terms_hit
  FROM tf JOIN df USING (w) JOIN dl ON tf.doc_id = dl.doc_id, stats
  GROUP BY tf.doc_id)
SELECT doc_id, round(s, 4) AS bm25, n_terms_hit
FROM scored
ORDER BY round(s, 4) DESC, doc_id
LIMIT 10
""")
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword retrieval: Okapi BM25 top-10 documents for a fixed
    3-term query (k1=1.2, b=0.75, Lucene's always-positive idf form
    ln(1 + (N - df + .5)/(df + .5))) — the full-text-search primitive
    next to the vector stack (sim_topk_*), and the lexical half of a
    hybrid retriever.

    Scale shape = an inverted-index probe without the index: tokens
    explode ONCE and filter to the query terms BEFORE any aggregation,
    so everything past the scan is |matching postings|-sized, never
    corpus-sized; doc length comes from `size(split(...))` row-local
    (no second explode); df/idf live on a |Q|-row frame (explicit
    broadcast — bounded by the query, not the data); the 1-row
    (n_docs, avgdl) scalar always broadcasts; the final top-10 is
    TakeOrderedAndProject.  Ranking orders on the ROUNDED (4 dp) score
    with a doc_id tie-break so the cut is engine-portable.  Ref
    parity: the reference's only text predicate is equality
    (src/services/audit.services.ts:148-163); retrieval is north-star
    scope."""
    cat = Catalog(spark, sf_dir)
    docs = cat.documents
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    dl = docs.select("doc_id", F.size(toks).alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (docs.select("doc_id", F.explode(toks).alias("w"))
          .filter(F.col("w").isin(*_BM25_TERMS))
          .groupBy("doc_id", "w").agg(F.count("*").alias("tf")))
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    denom = (F.col("tf")
             + _BM25_K1 * (1 - _BM25_B
                           + _BM25_B * F.col("dl") / F.col("avgdl")))
    scored = (tf.join(F.broadcast(df), "w")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats))
              .groupBy("doc_id")
              .agg(F.sum(idf * F.col("tf") * (_BM25_K1 + 1) / denom)
                   .alias("s"),
                   F.count("*").alias("n_terms_hit")))
    return (scored.select("doc_id", F.round("s", 4).alias("bm25"),
                          "n_terms_hit")
            .orderBy(F.col("bm25").desc(), "doc_id")
            .limit(10))


_RRF_K = 60       # the standard RRF damping constant (Cormack et al. 2009)
_RRF_CAND = 100   # per-ranker candidate-list depth

@register("text_rrf_fusion", f"""
WITH q(term) AS (VALUES {", ".join(f"('{t}')" for t in _BM25_TERMS)}),
dl AS (
  SELECT doc_id, len(string_split_regex(trim(lower(text)), '\\s+')) AS dl
  FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
words AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents),
tf AS (
  SELECT doc_id, w, count(*) AS tf
  FROM words JOIN q ON w = term
  GROUP BY doc_id, w),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
bm AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * ({_BM25_K1} + 1)
                   / (tf + {_BM25_K1}
                           * (1 - {_BM25_B}
                              + {_BM25_B} * dl.dl / avgdl))), 4) AS bm25
  FROM tf JOIN df USING (w) JOIN dl ON tf.doc_id = dl.doc_id, stats
  GROUP BY tf.doc_id),
bmtop AS (SELECT doc_id, bm25 FROM bm
          ORDER BY bm25 DESC, doc_id LIMIT {_RRF_CAND}),
bmr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_bm25
  FROM bmtop),
freq AS (SELECT w, count(*) AS c FROM words GROUP BY w),
tot AS (SELECT sum(c) AS n FROM freq),
nll AS (
  SELECT doc_id, round(avg(-ln(c * 1.0 / n)), 4) AS nll
  FROM words JOIN freq USING (w), tot
  GROUP BY doc_id),
qtop AS (SELECT doc_id, nll FROM nll
         ORDER BY nll, doc_id LIMIT {_RRF_CAND}),
qr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY nll, doc_id) AS rank_quality
  FROM qtop),
f AS (
  SELECT coalesce(bmr.doc_id, qr.doc_id) AS doc_id, rank_bm25, rank_quality
  FROM bmr FULL OUTER JOIN qr ON bmr.doc_id = qr.doc_id)
SELECT doc_id,
       round(coalesce(CAST(1 AS DOUBLE) / ({_RRF_K} + rank_bm25), 0)
             + coalesce(CAST(1 AS DOUBLE) / ({_RRF_K} + rank_quality), 0), 6)
         AS rrf,
       rank_bm25, rank_quality
FROM f
ORDER BY rrf DESC, doc_id
LIMIT 10
""")
def text_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid ranking by reciprocal rank fusion (Cormack et al. 2009):
    fuse the BM25 relevance ranking (text_bm25_topk's scorer) with the
    corpus-LM quality ranking (text_unigram_nll ascending — CCNet's
    "head" ordering) as sum of 1/(60 + rank) over the lists where the
    doc appears, top-10 reported with each constituent rank.  This is
    the standard way heterogeneous retrievers (lexical + quality, or
    lexical + vector) combine without score calibration.

    Scale shape — fusion is rank-space, so only CANDIDATE LISTS ever
    matter: each ranker ends in TakeOrderedAndProject at depth 100 and
    the rank-assigning unpartitioned windows sit ABOVE those limits
    (the linter's bounded-input exemption: a 100-row frame, one task by
    construction, not by luck).  The full-outer fusion join is
    100x100-bounded.  Upstream, each ranker keeps its own audited
    posture (postings-sized BM25 probe; un-hinted Heaps-law vocab join
    for the LM).  Ranks compare ROUNDED (4 dp) scores with doc_id
    tie-breaks, so both engines build identical lists.  Ref parity:
    none; north-star retrieval scope."""
    from pyspark.sql import Window as W

    cat = Catalog(spark, sf_dir)
    docs = cat.documents
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")

    # --- ranker 1: BM25 (same arithmetic as text_bm25_topk) ---
    dl = docs.select("doc_id", F.size(toks).alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (docs.select("doc_id", F.explode(toks).alias("w"))
          .filter(F.col("w").isin(*_BM25_TERMS))
          .groupBy("doc_id", "w").agg(F.count("*").alias("tf")))
    dfq = tf.groupBy("w").agg(F.count("*").alias("df"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    denom = (F.col("tf")
             + _BM25_K1 * (1 - _BM25_B
                           + _BM25_B * F.col("dl") / F.col("avgdl")))
    bm = (tf.join(F.broadcast(dfq), "w")
          .join(dl, "doc_id")
          .crossJoin(F.broadcast(stats))
          .groupBy("doc_id")
          .agg(F.round(F.sum(idf * F.col("tf") * (_BM25_K1 + 1) / denom), 4)
               .alias("bm25")))
    bmtop = bm.orderBy(F.col("bm25").desc(), "doc_id").limit(_RRF_CAND)
    bmr = bmtop.select(
        "doc_id",
        F.row_number().over(W.orderBy(F.col("bm25").desc(), "doc_id"))
        .cast("long").alias("rank_bm25"))

    # --- ranker 2: LM quality, best (lowest NLL) first ---
    words = docs.select("doc_id", F.explode(toks).alias("w"))
    freq = words.groupBy("w").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    nll = (words.join(freq, "w")
           .join(F.broadcast(tot))
           .groupBy("doc_id")
           .agg(F.round(F.avg(-F.ln(F.col("c") * 1.0 / F.col("n"))), 4)
                .alias("nll")))
    qtop = nll.orderBy("nll", "doc_id").limit(_RRF_CAND)
    qr = qtop.select(
        "doc_id",
        F.row_number().over(W.orderBy("nll", "doc_id"))
        .cast("long").alias("rank_quality"))

    fused = bmr.join(qr, "doc_id", "full")
    rrf = (F.coalesce(F.lit(1.0) / (_RRF_K + F.col("rank_bm25")), F.lit(0.0))
           + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("rank_quality")),
                        F.lit(0.0)))
    return (fused.select("doc_id", F.round(rrf, 6).alias("rrf"),
                         "rank_bm25", "rank_quality")
            .orderBy(F.col("rrf").desc(), "doc_id")
            .limit(10))


_FH_DIMS = 32  # hashed feature-vector width


@register("text_feature_hashing", f"""
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents),
b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % {_FH_DIMS} AS dim
  FROM words)
SELECT doc_id, dim, count(*) AS tf
FROM b GROUP BY doc_id, dim
""")
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): each document's
    token-count vector projected into a FIXED 32-dim space by hashing
    tokens to buckets — the featurizer that needs NO vocabulary pass,
    no dictionary broadcast, and no growth under Heaps' law, which is
    why web-scale linear models and collision-tolerant clustering use
    it instead of TF-IDF's exact vocabulary.  Emitted exploded as
    (doc_id, dim, tf) — the sparse form downstream trainers consume
    (and the form the driver's canonicalizer can hash, unlike arrays).

    Scale shape: one explode + one map-combined hash aggregate on
    (doc_id, dim) — dim is data-independent, so aggregate cardinality
    is bounded by 32x docs regardless of vocabulary; no joins, no
    windows, no second pass.  The bucket hash is the portable
    md5-prefix bigint (same idiom as the SimHash oracle mode), so
    DuckDB rebuilds identical buckets bit-for-bit.  Ref parity: none;
    north-star feature-engineering scope."""
    cat = Catalog(spark, sf_dir)
    words = cat.documents.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"))
    dim = (F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
           % _FH_DIMS)
    return (words.select("doc_id", dim.alias("dim"))
            .groupBy("doc_id", "dim").agg(F.count("*").alias("tf")))


@register("text_bpe_merges", """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents),
pairs AS (
  SELECT substr(w, i + 1, 2) AS pair
  FROM toks, UNNEST(range(length(w) - 1)) AS t(i)
  WHERE length(w) >= 2)
SELECT pair, count(*) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair LIMIT 20
""")
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-round BPE merge candidates: the 20 most frequent ADJACENT
    character pairs within words across the corpus — the statistic the
    byte-pair-encoding tokenizer-training loop (Sennrich et al. 2016)
    computes each round to pick its next merge.  Corpus-level pair
    counts are also the vocabulary-induction health signal next to
    text_bigram_pmi's word-level collocations.

    Scale shape: tokens explode once, each word expands to length-1
    overlapping 2-grams via a codegen'd transform(sequence(...)) over
    the word's character positions (bounded by word length — no join,
    no window), then ONE map-combined hash aggregate on the pair string
    (alphabet-bounded cardinality: <= |charset|^2 groups, a few
    thousand) and a global top-20 = TakeOrderedAndProject.  This is the
    flat shape the full BPE trainer iterates; one round is the declared
    query (iteration count is a constant, not a scale factor).
    Ref parity: none; north-star tokenizer scope."""
    cat = Catalog(spark, sf_dir)
    words = (cat.documents
             .select(F.explode(
                 F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
                 .alias("w"))
             .filter(F.length("w") >= 2))
    pairs = words.select(
        F.explode(
            F.transform(F.sequence(F.lit(1), F.length("w") - 1),
                        lambda i: F.col("w").substr(i, F.lit(2))))
        .alias("pair"))
    return (pairs.groupBy("pair").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), "pair").limit(20))


@register("text_cms_topk", """
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
  FROM documents),
t AS (SELECT word FROM toks WHERE word <> '')
SELECT word, count(*) AS exact_cnt, TRUE AS within_bounds
FROM t GROUP BY word
ORDER BY exact_cnt DESC, word
LIMIT 20
""")
def text_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch point estimates for the corpus top-20 tokens —
    the mergeable FREQUENCY sketch next to the distinct sketches
    (agg_hll_sketch) and the Misra-Gries heavy-hitter pass
    (text_heavy_hitters).

    Scale shape: the sketch is the DataFrame-native CMS — one explode
    of the token stream over DEPTH hash rows, then a hash aggregate on
    (depth, bucket).  The aggregate's key space is exactly DEPTH*WIDTH
    (20,480 cells), so map-side partial aggregation collapses every
    partition to <= 20,480 rows no matter how many tokens it holds:
    the shuffle carries sketch cells, never the vocabulary.  Sketches
    from disjoint corpora merge by cell-wise addition of the same
    bounded key space (the same incremental-rollup posture as
    hll_union_agg).  The probe side joins the 20-row top-k (broadcast)
    against its DEPTH cells and takes min(count) per word.

    Bounds-style oracle (cell layout is seed-specific): the query
    computes each top word's EXACT count alongside the estimate and
    emits `within_bounds = exact <= est <= exact + ceil(2*e*N/WIDTH)`;
    the oracle recomputes exact counts and pins the boolean TRUE.
    est >= exact is the CMS structural guarantee (counters only
    overcount); the upper slack is 2x the Markov expectation e*N/w,
    which holds deterministically for the pinned xxhash64 seeds at
    every fixture SF (verified sf0.001/0.01/0.1 + the sf1 scale-up
    fixture; per-row failure odds (2e)^-DEPTH ~ 2e-4 before the min).
    NOTE (FIXTURES.md): regenerating fixtures requires re-validating
    this probabilistic bound.

    Two tokenization passes, not three (ADVICE r4): N is a sketch
    property — every token lands in exactly DEPTH cells, so
    N = sum(cnt)/DEPTH — and the bounded cell table (<= DEPTH*WIDTH
    rows) is localCheckpoint'ed once and read by both the probe join
    and the N fold; only the cells pass and the exact-top-k pass
    touch the corpus.
    Ref parity: none — sketch scope is north-star."""
    DEPTH, WIDTH = 5, 4096
    cat = Catalog(spark, sf_dir)
    words = cat.documents.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
    ).filter(F.col("word") != "")

    depths = F.array(*[F.lit(d) for d in range(DEPTH)])
    # eager localCheckpoint, not persist(): bounded (<= 20,480 rows),
    # feeds two consumers, and checkpoint blocks are reference-tracked
    # (see queries_dedup.py for the full rationale)
    cells = (words
             .select("word", F.explode(depths).alias("d"))
             .select("d", F.pmod(F.xxhash64("word", "d"),
                                 F.lit(WIDTH)).alias("bucket"))
             .groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
             .localCheckpoint(eager=True))

    top = (words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_cnt"))
           .orderBy(F.col("exact_cnt").desc(), "word").limit(20))
    # every token increments exactly DEPTH cells, so the total token
    # count is a property of the sketch itself — no third corpus pass
    n_total = cells.agg(
        (F.sum("cnt") / F.lit(DEPTH)).cast("long").alias("n_tok"))

    probe = (top.select("word", "exact_cnt", F.explode(depths).alias("d"))
             .withColumn("bucket", F.pmod(F.xxhash64("word", "d"),
                                          F.lit(WIDTH))))
    est = (cells.join(F.broadcast(probe), ["d", "bucket"])
           .groupBy("word", "exact_cnt").agg(F.min("cnt").alias("est")))
    import math
    slack_per_n = 2.0 * math.e / WIDTH
    return (est.crossJoin(F.broadcast(n_total))
            .select("word", "exact_cnt",
                    ((F.col("est") >= F.col("exact_cnt"))
                     & (F.col("est") <= F.col("exact_cnt")
                        + F.ceil(F.col("n_tok") * F.lit(slack_per_n))))
                    .alias("within_bounds")))


_CTX = 512  # tokens per packed training window


@register("text_pack_windows", rf"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
           AS n_tokens
  FROM documents),
o AS (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang
                             ORDER BY n_tokens DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - n_tokens AS off
  FROM t)
SELECT doc_id, lang, n_tokens,
       CAST(off // {_CTX} AS BIGINT) AS win_start,
       CAST((off + n_tokens - 1) // {_CTX} AS BIGINT) AS win_end,
       CAST((off + n_tokens - 1) // {_CTX} - off // {_CTX} + 1 AS BIGINT)
         AS n_windows_spanned
FROM o
""")
def text_pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing audit (the per-WINDOW complement of
    text_pack_sequences' per-BIN stats): assign every document its token
    offset in the greedy per-language concatenation order (longest
    first, id tie-break) and report which fixed context windows
    (C=512 tokens) it lands in — the packing plan a pretraining data
    loader executes, made queryable so fill efficiency and
    document-straddle rates (docs split across window boundaries lose
    attention contiguity) are auditable before tokens are burned.

    Scale shape: one token-count map, one running-sum window per
    LANGUAGE partition — the partitions are the parallel unit, so no
    global sort or single-reducer window appears (the same
    per-group-running-sum shape as window_running); everything after
    the cumsum is row-local integer arithmetic.  The oracle replays
    the identical ordered prefix sum."""
    cat = Catalog(spark, sf_dir)
    from pyspark.sql import Window as W

    n_tokens = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")) \
        .cast("bigint")
    w = (W.partitionBy("lang")
         .orderBy(F.col("n_tokens").desc(), "doc_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    t = cat.documents.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    o = t.withColumn("off", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    win_start = F.floor(F.col("off") / _CTX)
    win_end = F.floor((F.col("off") + F.col("n_tokens") - 1) / _CTX)
    return o.select(
        "doc_id", "lang", "n_tokens",
        win_start.cast("bigint").alias("win_start"),
        win_end.cast("bigint").alias("win_end"),
        (win_end - win_start + 1).cast("bigint").alias("n_windows_spanned"))


_NOV_BUCKET = 50  # docs per ingestion slice (doc_id is arrival order)


@register("text_novelty_curve", f"""
WITH toks AS (
  SELECT doc_id // {_NOV_BUCKET} AS bucket,
         string_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents),
sh AS (
  SELECT DISTINCT bucket,
         w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' '
           || w[i+5] AS shingle
  FROM toks, UNNEST(range(len(w) - 4)) AS t(i)
  WHERE len(w) >= 5),
fb AS (SELECT shingle, min(bucket) AS first_bucket FROM sh GROUP BY shingle)
SELECT s.bucket,
       count(*) AS n_distinct,
       CAST(sum(CASE WHEN f.first_bucket = s.bucket THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new,
       round(sum(CASE WHEN f.first_bucket = s.bucket THEN 1 ELSE 0 END)
             * 1.0 / count(*), 6) AS novelty
FROM sh s JOIN fb f USING (shingle)
GROUP BY s.bucket
""")
def text_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus saturation / novelty curve: per fixed-size ingestion slice
    (50 docs in arrival order — doc_id is the landing sequence), how
    many distinct word-5-gram shingles the slice contains and what
    fraction of them the corpus has NEVER seen in an earlier slice.
    The curve is the stop-crawling signal every web-scale curation run
    needs: when n_new/n_distinct flattens toward the boilerplate floor,
    additional ingest buys duplicate passages, not training tokens
    (the Heaps'-law exhaust the BPE-census and unigram queries measure
    statically, made *incremental*).

    Scale shape: shingles collapse to 64-bit hashes before any shuffle
    (the word_shingles discipline — collision odds ~ n^2/2^65, far
    below the driver compare's resolution); first-occurrence is ONE
    groupBy(shingle) min, the membership join is shingle-co-partitioned
    with it, and the final rollup is O(n_buckets) rows.  No window, no
    sort, nothing global — each stage is the linear equi-shuffle shape.
    The oracle replays first-occurrence over the raw shingle strings."""
    from data_ingestion_system_spark.operators.dedup import word_shingles

    cat = Catalog(spark, sf_dir)
    bucketed = cat.wide_table("documents").select(
        F.expr(f"doc_id div {_NOV_BUCKET}").alias("bucket"), "text")
    # the shared shingle lowering (distinct hashed word-5-grams per id,
    # with the short-doc guard) — the id here is the ingestion slice
    grams = word_shingles(bucketed, "bucket", "text", n=5, hashed=True)
    fb = grams.groupBy("sh").agg(F.min("bucket").alias("first_bucket"))
    new = F.when(F.col("first_bucket") == F.col("bucket"), 1).otherwise(0)
    return (
        grams.join(fb, "sh")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_distinct"),
             F.sum(new).alias("n_new"),
             F.round(F.sum(new) * 1.0 / F.count("*"), 6).alias("novelty"))
    )



@register("text_nb_langid", """
WITH words AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents),
cw AS (SELECT lang AS cand, w,
              CAST(round(ln(count(*) + 1.0) * 1e6, 0) AS BIGINT) AS lnc
       FROM words GROUP BY lang, w),
vsz AS (SELECT count(DISTINCT w) AS v FROM words),
ls AS (
  SELECT lang AS cand,
         CAST(round(-ln(count(*) + (SELECT v FROM vsz)) * 1e6, 0)
              AS BIGINT) AS base
  FROM words GROUP BY lang),
prior AS (
  SELECT lang AS cand,
         CAST(round(ln(count(*) * 1.0 /
                       (SELECT count(*) FROM documents)) * 1e6, 0)
              AS BIGINT) AS logprior
  FROM documents GROUP BY lang),
doc_stats AS (
  SELECT doc_id, any_value(lang) AS actual, count(*) AS n_tok
  FROM words GROUP BY doc_id),
hits AS (
  SELECT wd.doc_id, m.cand, sum(m.lnc) AS s_hit
  FROM words wd JOIN cw m ON m.w = wd.w
  GROUP BY wd.doc_id, m.cand),
scores AS (
  SELECT d.doc_id, d.actual, l.cand,
         coalesce(h.s_hit, 0) + d.n_tok * l.base + p.logprior AS score
  FROM doc_stats d
  CROSS JOIN ls l
  JOIN prior p ON p.cand = l.cand
  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.cand = l.cand),
pred AS (
  SELECT doc_id, actual, cand,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cand) AS rnk
  FROM scores)
SELECT actual AS lang, cand AS predicted_lang, count(*) AS n_docs
FROM pred WHERE rnk = 1
GROUP BY 1, 2
""")
def text_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-BASED language identification — multinomial Naive Bayes
    trained on the corpus's own labels in one distributed pass, then
    applied back to every document; output is the confusion matrix
    (actual lang, predicted lang, doc count).  This is the family the
    heuristic text_langid cannot reach: the evidence is LEARNED
    per-token log-likelihoods (Laplace-smoothed) instead of hand-coded
    stopword lists — the shape of fastText-style lang/quality filters
    in production curation, distributable because NB's sufficient
    statistics are just grouped counts.

    The lowering is the SPARSE decomposition, not the dense
    (lang x vocab) grid: ln((c+1)/(n_lang+V)) = ln(c+1) - ln(n_lang+V),
    and unseen tokens contribute ln(0+1) = 0 to the first term, so
    score(doc, lang) = sum_{hit tokens} ln(c+1)
                       + n_tok(doc) * -ln(n_lang + V) + ln prior(lang)
    needs only the OBSERVED (lang, token) count relation — O(observed
    pairs) model state instead of O(V x L), which is what survives
    Heaps'-law vocabularies at 100 TB.  Scoring is one equi-join of the
    exploded tokens against that relation (un-hinted, like
    text_unigram_nll: AQE broadcasts small models, falls back to a hash
    join keyed on the token), one groupBy(doc, lang), and a doc x lang
    grid attach where the lang-stats side carries an explicit
    ``limit(1000)`` so Catalyst PROVES the cross bounded (lang
    cardinality is checked loudly against the bound first, and the
    limit then makes it visible to the plan linter's bounded-theta
    gate — never a silent truncation).  Per-doc argmax
    is a doc-partitioned window over n_langs rows.

    Determinism: every log term is scaled to integer MICRO-units at the
    point it is computed (``round(ln(x) * 1e6)`` as long), so the
    per-doc score is exact integer arithmetic — summation order cannot
    move it, and the argmax cannot flip on a 1-ulp boundary the way a
    float sum rounded at 4 dp could (the per-token ln itself still
    rounds once, the same single-rounding exposure text_unigram_nll
    accepts; what's eliminated is the engine-dependent ACCUMULATION
    of float error across hundreds of tokens per doc)."""
    cat = Catalog(spark, sf_dir)
    tokens = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    words = cat.documents.select(
        "doc_id", "lang", F.explode(tokens).alias("w"))
    # Model state — observed (lang, token) counts — materialized ONCE
    # (r10, VERDICT r9 #2): the r9 shape re-exploded the token stream
    # in five consumers (per-pair log counts, vocab size, per-lang
    # totals, per-doc stats, the scoring join) because each hangs off a
    # differently-keyed aggregate no exchange reuse can share.  The
    # count relation is O(observed lang-token pairs) — what any NB
    # trainer holds as its model — and every training-side statistic
    # derives from it: per-pair lnc, vocab size (distinct w), per-lang
    # token totals.  The lazy checkpoint materializes inside the loud
    # cardinality guard's job, so build is one token-stream pass.
    cw_counts = (words.groupBy(F.col("lang").alias("cand"), "w")
                 .agg(F.count("*").alias("cnt"))
                 .localCheckpoint(eager=False))
    cw = cw_counts.select(
        "cand", "w",
        F.round(F.ln(F.col("cnt") + 1.0) * 1e6, 0).cast("long")
        .alias("lnc"))
    vsz = cw_counts.agg(F.countDistinct("w").alias("v"))
    ls = (cw_counts.groupBy("cand")
          .agg(F.sum("cnt").alias("n_l"))
          .crossJoin(F.broadcast(vsz))
          .select("cand",
                  F.round(-F.ln(F.col("n_l") + F.col("v")) * 1e6, 0)
                  .cast("long").alias("base")))
    n_docs_total = cat.documents.agg(F.count("*").alias("nd"))
    prior = (cat.documents.groupBy(F.col("lang").alias("cand"))
             .agg(F.count("*").alias("dl"))
             .crossJoin(F.broadcast(n_docs_total))
             .select("cand",
                     F.round(F.ln(F.col("dl") * 1.0 / F.col("nd")) * 1e6, 0)
                     .cast("long").alias("logprior")))
    # per-doc token counts WITHOUT the token explode + groupBy(doc_id)
    # shuffle: explode emits exactly size(tokens) rows per non-null
    # text (split never yields an empty array), so n_tok is a map-side
    # projection of the same array
    doc_stats = (cat.documents.filter(F.col("text").isNotNull())
                 .select("doc_id", F.col("lang").alias("actual"),
                         F.size(tokens).cast("long").alias("n_tok")))
    hits = (words.join(cw, "w")
            .groupBy("doc_id", "cand")
            .agg(F.sum("lnc").alias("s_hit")))
    lang_side = ls.join(F.broadcast(prior), "cand")
    # tiny distinct over the materialized model; same value as the old
    # ls⋈prior count (prior's langs are a superset of the model's, and
    # a NULL lang never matched that join, so it is not counted here)
    n_langs = (cw_counts.filter(F.col("cand").isNotNull())
               .select("cand").distinct().count())
    if n_langs > 1000:
        raise ValueError(
            f"lang cardinality {n_langs} exceeds the 1000-language grid "
            "bound — refusing to silently truncate the candidate set")
    lang_side = lang_side.limit(1000)    # provable bound for the linter
    scores = (
        doc_stats.crossJoin(F.broadcast(lang_side))
        .join(hits, ["doc_id", "cand"], "left")
        .select("doc_id", "actual", "cand",
                (F.coalesce(F.col("s_hit"), F.lit(0).cast("long"))
                 + F.col("n_tok") * F.col("base")
                 + F.col("logprior")).alias("score")))
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand"))
    return (
        scores.withColumn("rnk", F.row_number().over(w_doc))
        .filter(F.col("rnk") == 1)
        .groupBy(F.col("actual").alias("lang"),
                 F.col("cand").alias("predicted_lang"))
        .agg(F.count("*").alias("n_docs"))
    )


@register("text_mixture_weights", """
WITH words AS (
  SELECT lang, source,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents),
g AS (SELECT lang, source, count(*) AS n_tokens
      FROM words GROUP BY lang, source),
tot AS (SELECT sum(n_tokens) AS n, count(*) AS n_groups FROM g)
SELECT lang, source, n_tokens,
       round(n_tokens * 1.0 / n, 6) AS share,
       round(least(10.0, (1.0 / n_groups) / (n_tokens * 1.0 / n)), 6)
         AS weight
FROM g, tot
ORDER BY lang, source
""")
def text_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting (the DoReMi / data-mixing knob every
    pretraining run turns): per (lang, source) domain, the sampling
    weight that moves the observed TOKEN share toward a uniform target
    mixture — weight = target_share / observed_share, capped at 10x so
    a tiny domain cannot be oversampled into memorization.  Output is
    the domain table a sampler joins against; swapping the uniform
    target for a tuned one changes one literal.

    Scale shape: one explode + one (lang, source) grouped count —
    domains are few (thousands at web scale), so the share/weight math
    runs on a relation that fits anywhere; the token explode is the
    same linear pass every text query pays.  The cap is least(), never
    a silent renormalization: capped domains are visible because their
    weight sits exactly at the cap."""
    cat = Catalog(spark, sf_dir)
    words = cat.documents.select(
        "lang", "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .alias("w"))
    g = words.groupBy("lang", "source").agg(F.count("*").alias("n_tokens"))
    tot = g.agg(F.sum("n_tokens").alias("n"),
                F.count("*").alias("n_groups"))
    share = F.col("n_tokens") * 1.0 / F.col("n")
    return (
        g.crossJoin(F.broadcast(tot))
        .select("lang", "source", "n_tokens",
                F.round(share, 6).alias("share"),
                F.round(F.least(F.lit(10.0),
                                (1.0 / F.col("n_groups")) / share), 6)
                .alias("weight"))
        .orderBy("lang", "source")
    )


@register("text_source_kl", """
WITH words AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents),
sw AS (SELECT source, w, count(*) AS c_sw FROM words GROUP BY source, w),
s AS (SELECT source, sum(c_sw) AS c_s FROM sw GROUP BY source),
cw AS (SELECT w, sum(c_sw) AS c_w FROM sw GROUP BY w),
tot AS (SELECT sum(c_w) AS c, count(*) AS v FROM cw),
terms AS (
  SELECT sw.source,
         CAST(round((sw.c_sw * 1.0 / s.c_s)
                    * ln((sw.c_sw * 1.0 / s.c_s)
                         / ((cw.c_w + 1.0) / (tot.c + tot.v))) * 1e6, 0)
              AS BIGINT) AS t_micro
  FROM sw JOIN s USING (source) JOIN cw USING (w), tot)
SELECT source,
       CAST(s.c_s AS BIGINT) AS n_tokens,
       round(sum(t_micro) / 1e6, 6) AS kl_nats
FROM terms JOIN s USING (source)
GROUP BY source, s.c_s
ORDER BY source
""")
def text_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift audit: KL divergence of each source's unigram
    distribution from the smoothed corpus distribution — the "is this
    crawl slice off-distribution?" check run before a new source is
    admitted to the mix.  KL(P_s || Q) = sum_w p ln(p/q) with
    p = c_sw / C_s (source MLE) and q = (c_w + 1) / (C + V) (corpus,
    add-one over the corpus vocabulary so q > 0 wherever p > 0).

    Determinism is the text_nb_langid integer micro-unit discipline:
    each (source, word) term rounds to micro-nats as a LONG at the
    point it is computed, so the per-source sum is exact integer
    arithmetic — engine-dependent accumulation order over a
    Heaps'-law-sized vocabulary cannot move the reported value.

    Scale shape: model state is the O(observed pairs) (source, w)
    count relation; the term join keys on the token (AQE broadcasts a
    small corpus vocab, hash-joins a large one) and the final agg
    groups by source — two shuffles, both on keys the data already
    concentrates on."""
    cat = Catalog(spark, sf_dir)
    words = cat.documents.select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .alias("w"))
    sw = words.groupBy("source", "w").agg(F.count("*").alias("c_sw"))
    s = sw.groupBy("source").agg(F.sum("c_sw").alias("c_s"))
    cw = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    tot = cw.agg(F.sum("c_w").alias("c"), F.count("*").alias("v"))
    p = F.col("c_sw") * 1.0 / F.col("c_s")
    q = (F.col("c_w") + 1.0) / (F.col("c") + F.col("v"))
    terms = (
        sw.join(s, "source").join(cw, "w").crossJoin(F.broadcast(tot))
        .select("source",
                F.round(p * F.ln(p / q) * 1e6, 0).cast("long")
                .alias("t_micro")))
    return (
        terms.groupBy("source").agg(F.sum("t_micro").alias("sm"))
        .join(s, "source")
        .select("source", F.col("c_s").alias("n_tokens"),
                F.round(F.col("sm") / 1e6, 6).alias("kl_nats"))
        .orderBy("source")
    )
