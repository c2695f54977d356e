"""Dedup, corpus-hygiene and training-data queries.

Over ``documents`` (and transcript turns derived from ``events``):
exact, MinHash, SimHash, Jaccard, containment, set-similarity and
semantic dedup plus the incremental dedup store; contamination and
novelty; quality, line, boilerplate and blocklist filters; PII
redaction; subword and BPE tokenizers; n-gram LMs and perplexity;
mixtures and sampling; SFT, preference and DPO assembly; sharding and
splits; text statistics and drift.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from grass_spark.operators.audit import source_overlap
from grass_spark.operators.blocklist import blocklist_pattern, blocklist_stats
from grass_spark.operators.caps import top_per_group
from grass_spark.operators.collocations import pmi_collocations
from grass_spark.operators.corpusstats import (
    corpus_diff,
    source_entropy,
    vocab_growth,
    zipf_slope,
)
from grass_spark.operators.dedup import (
    dup_size_distribution,
    ngram_containment_pairs,
    shingles_of_words,
    with_shingles,
)
from grass_spark.operators.divergence import ks_test
from grass_spark.operators.editsim import edit_similarity_pairs
from grass_spark.operators.export import content_splits
from grass_spark.operators.linkage import blocked_fuzzy_pairs
from grass_spark.operators.preference import preference_pairs, upsample_epochs
from grass_spark.operators.sampling import uniform_hash
from grass_spark.operators.setsim import setsim_pairs
from grass_spark.operators.textstats import lexical_diversity, readability
from grass_spark.operators.waterfill import waterfill_mixture
from grass_spark.queries.temporal import _t


# =====================================================================
# Training-data ops — documents / embeddings
# =====================================================================


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: group by content hash, keep the smallest doc_id."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


ORACLE_DEDUP_EXACT = """
SELECT md5(text)                      AS content_hash,
       CAST(min(doc_id) AS BIGINT)    AS keep_id,
       CAST(count(*) AS BIGINT)       AS n_copies
FROM documents GROUP BY 1
"""


def q_text_stats(spark, sf_dir):
    """Text quality metrics: token count, avg token length, alpha ratio."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_tokens = F.size(toks)
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace(F.col("text"), r"\s", ""))
            / n_tokens.cast("double"), 6
        ).alias("avg_token_len"),
        F.round(n_alpha / F.length("text").cast("double"), 6).alias("alpha_ratio"),
    )


ORACLE_TEXT_STATS = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       round(length(regexp_replace(text, '\\s', '', 'g'))
             / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE), 6)
         AS avg_token_len,
       round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
             / CAST(length(text) AS DOUBLE), 6) AS alpha_ratio
FROM documents
"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprint: hash of casefolded, whitespace-normalized text."""
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.select("doc_id", F.md5(norm).alias("fingerprint"))


ORACLE_DOC_FINGERPRINT = """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


def q_token_count(spark, sf_dir):
    """BPE-ish tokenization census: words / numbers / other-symbol runs."""
    d = _t(spark, sf_dir, "documents")
    pat = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))
        .cast("long").alias("n_bpe_tokens"),
    )


ORACLE_TOKEN_COUNT = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT)
         AS n_bpe_tokens
FROM documents
"""


def q_lang_guess(spark, sf_dir):
    """Language-ID heuristic: padded stopword-hit counting (deterministic
    replace-count trick so the oracle is exactly the same algorithm)."""
    d = _t(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))

    def hits(word: str):
        needle = f" {word} "
        return (
            (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
            / len(needle)
        ).cast("long")

    en = hits("the") + hits("and") + hits("of")
    fr = hits("le") + hits("la") + hits("et")
    de = hits("der") + hits("und") + hits("die")
    return d.select(
        "doc_id",
        en.alias("en_hits"), fr.alias("fr_hits"), de.alias("de_hits"),
        F.when((en >= fr) & (en >= de) & (en > 0), "en")
        .when((fr >= de) & (fr > 0), "fr")
        .when(de > 0, "de")
        .otherwise("unknown")
        .alias("lang_guess"),
    )


def _dd_hits(word: str) -> str:
    needle = f" {word} "
    return (
        f"CAST((length(p) - length(replace(p, '{needle}', ''))) / {len(needle)} AS BIGINT)"
    )


ORACLE_LANG_GUESS = f"""
WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
h AS (
  SELECT doc_id,
         {_dd_hits("the")} + {_dd_hits("and")} + {_dd_hits("of")}  AS en_hits,
         {_dd_hits("le")} + {_dd_hits("la")} + {_dd_hits("et")}    AS fr_hits,
         {_dd_hits("der")} + {_dd_hits("und")} + {_dd_hits("die")} AS de_hits
  FROM p
)
SELECT doc_id, en_hits, fr_hits, de_hits,
       CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
            WHEN fr_hits >= de_hits AND fr_hits > 0 THEN 'fr'
            WHEN de_hits > 0 THEN 'de'
            ELSE 'unknown' END AS lang_guess
FROM h
"""


# ---------------------------------------------------------------------
# portable MinHash-LSH (md5-based so DuckDB runs the same algorithm)
# ---------------------------------------------------------------------

N_SIG = 8
N_BANDS = 4  # 2 slots per band

_SQL_SHINGLES = """
  nrm AS (
    SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
    FROM documents
  ), w AS (
    SELECT doc_id, t, regexp_split_to_array(t, ' ') AS ws FROM nrm
  ), sh AS (
    SELECT doc_id, unnest(
      CASE WHEN len(ws) >= 3
           THEN list_distinct(list_transform(
                  generate_series(1, len(ws) - 2),
                  i -> array_to_string(ws[i:i+2], ' ')))
           ELSE [t] END) AS s
    FROM w
  )
"""

_SQL_SIG = (
    "sig AS (SELECT doc_id, "
    + ", ".join(f"min(md5(s || '#{i}')) AS h{i}" for i in range(N_SIG))
    + " FROM sh GROUP BY doc_id)"
)


def _sig_df(spark, sf_dir):
    # per-row fold, no explode/groupBy: h_i = array_min(md5(s + "#i"))
    # over the shingle array — identical values to the old shuffled
    # min() aggregate (lexicographic md5 min either way), zero Exchange.
    # sh_arr appears only as a top-level HOF argument (inlining-proof
    # per PLANS.md).
    d = _t(spark, sf_dir, "documents")
    # shingle-less docs had no exploded rows in the old form (and have
    # none in the DuckDB oracle) — keep them absent here too
    sh = with_shingles(d, "text", 3).where(F.size("sh_arr") > 0)
    def _slot(i: int):
        # NB: a 2-arg lambda would make F.transform pass the ARRAY INDEX
        # as the second argument — bind the slot number via closure
        suffix = F.lit(f"#{i}")
        return F.array_min(
            F.transform(F.col("sh_arr"), lambda s: F.md5(F.concat(s, suffix)))
        ).alias(f"h{i}")

    return sh.select("doc_id", *[_slot(i) for i in range(N_SIG)])


def q_minhash_sig(spark, sf_dir):
    """Word-3-gram MinHash signatures (8 md5-min slots per doc)."""
    return _sig_df(spark, sf_dir)


ORACLE_MINHASH_SIG = f"WITH {_SQL_SHINGLES}, {_SQL_SIG} SELECT * FROM sig"


def q_minhash_pairs(spark, sf_dir):
    """Banded-LSH candidate pairs + MinHash Jaccard estimate (4 bands
    of 2 slots) — the scale path of near-dup detection."""
    # localCheckpoint: the band self-join would otherwise recompute the
    # whole shingle+minhash subtree twice (Spark does not dedup subplans)
    sig = _sig_df(spark, sf_dir).withColumn(
        "sig", F.array(*[F.col(f"h{i}") for i in range(N_SIG)])
    ).localCheckpoint()
    bands = F.array(*[
        F.md5(F.concat(F.col(f"h{2*b}"), F.col(f"h{2*b+1}")))
        for b in range(N_BANDS)
    ])
    banded = sig.select(
        "doc_id", "sig", F.posexplode(bands).alias("band_idx", "bh")
    )
    a = banded.select(
        F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"),
        "band_idx", "bh",
    )
    b = banded.select(
        F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"),
        "band_idx", "bh",
    )
    pairs = (
        a.join(b, on=["band_idx", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    eq = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return pairs.select(
        "id_a", "id_b", F.round(eq / N_SIG, 6).alias("est_jaccard")
    )


ORACLE_MINHASH_PAIRS = f"""
WITH {_SQL_SHINGLES}, {_SQL_SIG},
sig2 AS (
  SELECT doc_id, [{', '.join(f'h{i}' for i in range(N_SIG))}] AS sig
  FROM sig
), band AS (
  SELECT doc_id, sig,
         unnest(generate_series(0, {N_BANDS - 1})) AS band_idx,
         unnest(list_transform(generate_series(0, {N_BANDS - 1}),
                b -> md5(sig[2*b + 1] || sig[2*b + 2]))) AS bh
  FROM sig2
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM band a JOIN band b USING (band_idx, bh)
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       round(len(list_filter(generate_series(1, {N_SIG}),
                             i -> sig_a[i] = sig_b[i])) / {N_SIG}.0, 6)
         AS est_jaccard
FROM pairs
"""


# =====================================================================
# Exact n-gram Jaccard verification over LSH candidates, a DuckDB-
# portable SimHash, and the corpus-hygiene gates: near-duplicate keep,
# n-gram heavy hitters, contamination and decontamination, chunk dedup,
# sequence packing, mixtures, PII redaction, repetition statistics and
# n-gram LM perplexity.
# =====================================================================


# ---------------------------------------------------------------------
# exact n-gram Jaccard verification over the md5-LSH candidate pairs
# (the verify pass of near_dedup — fully portable: DuckDB runs the
# identical shingle/minhash/band algorithm).  The candidate chain is
# shared between jaccard_verify and near_dedup_keep — one place for the
# signature/band algorithm in Spark AND in SQL.
# ---------------------------------------------------------------------


def _md5_cands(sh):
    """Banded md5-LSH candidate pairs from a prepared (doc_id, sh_arr)
    frame.  Signatures use the per-row fold (`_sig_df`'s 0-Exchange
    shape — identical values to a shuffled min() aggregate, PLANS.md
    "Signature-path fold"); the fold output is checkpointed so the band
    self-join doesn't recompute it per side."""
    nz = sh.where(F.size("sh_arr") > 0)

    def _slot(i: int):
        # NB: a 2-arg lambda would make F.transform pass the ARRAY
        # INDEX as the second argument — bind the slot via closure
        suffix = F.lit(f"#{i}")
        return F.array_min(
            F.transform(F.col("sh_arr"), lambda s: F.md5(F.concat(s, suffix)))
        ).alias(f"h{i}")

    sig = nz.select("doc_id", *[_slot(i) for i in range(N_SIG)]).localCheckpoint()
    bands = F.array(*[
        F.md5(F.concat(F.col(f"h{2*b}"), F.col(f"h{2*b+1}")))
        for b in range(N_BANDS)
    ])
    banded = sig.select("doc_id", F.posexplode(bands).alias("band_idx", "bh"))
    a = banded.select(F.col("doc_id").alias("id_a"), "band_idx", "bh")
    b = banded.select(F.col("doc_id").alias("id_b"), "band_idx", "bh")
    return (
        a.join(b, on=["band_idx", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


_SQL_SIG2 = (
    "sig2 AS (SELECT doc_id, ["
    + ", ".join(f"min(md5(s || '#{i}'))" for i in range(N_SIG))
    + "] AS sig FROM sh GROUP BY doc_id)"
)

#: shared oracle chain: band buckets -> candidate pairs -> shingle sets
_SQL_CANDS = f"""{_SQL_SIG2},
band AS (
  SELECT doc_id,
         unnest(generate_series(0, {N_BANDS - 1})) AS band_idx,
         unnest(list_transform(generate_series(0, {N_BANDS - 1}),
                b -> md5(sig[2*b + 1] || sig[2*b + 2]))) AS bh
  FROM sig2
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM band a JOIN band b USING (band_idx, bh)
  WHERE a.doc_id < b.doc_id
), sets AS (
  SELECT doc_id, list_distinct(list(s)) AS ls FROM sh GROUP BY doc_id
)"""


def q_jaccard_verify(spark, sf_dir):
    """Exact word-3-gram Jaccard for every banded-LSH candidate pair."""
    from grass_spark.operators.dedup import ngram_jaccard_pairs, with_shingles

    d = _t(spark, sf_dir, "documents")
    # one shingle build for the whole query: the md5 signature path and
    # the exact-verify joins both read this checkpointed frame
    sh = with_shingles(d, "text", 3).select("doc_id", "sh_arr").localCheckpoint()
    out = ngram_jaccard_pairs(d, _md5_cands(sh), shingle_n=3, shingles=sh)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


ORACLE_JACCARD_VERIFY = f"""
WITH {_SQL_SHINGLES},
{_SQL_CANDS}
SELECT c.id_a, c.id_b,
       round(CAST(len(list_intersect(sa.ls, sb.ls)) AS DOUBLE)
             / (len(sa.ls) + len(sb.ls) - len(list_intersect(sa.ls, sb.ls))),
             6) AS jaccard
FROM cands c
JOIN sets sa ON sa.doc_id = c.id_a
JOIN sets sb ON sb.doc_id = c.id_b
"""


# ---------------------------------------------------------------------
# portable SimHash (Charikar bit-majority) — md5-substring 60-bit hash
# so the DuckDB oracle computes the identical fingerprint
# ---------------------------------------------------------------------

_SIMHASH_BITS = 60


def q_simhash_portable(spark, sf_dir):
    """60-bit SimHash per document over word-3-gram shingles; the token
    hash is the low 60 bits of md5 (hex substring), reproducible in any
    engine — the xxhash64 fast path is exercised by the unit suite."""
    from grass_spark.operators.dedup import simhash

    d = _t(spark, sf_dir, "documents")
    md5_60 = lambda c: F.conv(F.substring(F.md5(c), 18, 15), 16, 10).cast("long")  # noqa: E731
    return simhash(
        d, shingle_n=3, hash_fn=md5_60, n_bits=_SIMHASH_BITS
    )


def _simhash_oracle() -> str:
    sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS sb{b}"
        for b in range(_SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN sb{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END)"
        for b in range(_SIMHASH_BITS)
    )
    return f"""
WITH {_SQL_SHINGLES},
hs AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(s), 18, 15)) AS BIGINT) AS h
  FROM sh
), bits AS (
  SELECT doc_id,
         {sums}
  FROM hs GROUP BY doc_id
)
SELECT doc_id, {fp} AS simhash
FROM bits
"""


# ---------------------------------------------------------------------
# near_dedup end-to-end — the flagship training-data pipeline as a
# driver query, HASH-GATED (round-2 VERDICT item #3): candidate
# generation uses the md5-portable signature path (DuckDB reproduces
# it bit-for-bit) and the iterative Spark connected components are
# checked against a DuckDB WITH RECURSIVE reachability oracle.  The
# engine's xxhash near_dedup() fast path keeps its own unit coverage.
# ---------------------------------------------------------------------


def q_near_dedup_keep(spark, sf_dir):
    """md5-LSH -> exact-Jaccard verify (>= 0.8) -> connected components
    (min-label + pointer doubling) -> keep decisions for EVERY document
    (keep = smallest id per duplicate cluster; singletons keep
    themselves).  Deterministic output."""
    from grass_spark.operators.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs,
        with_shingles,
    )

    d = _t(spark, sf_dir, "documents")
    sh = with_shingles(d, "text", 3).select("doc_id", "sh_arr").localCheckpoint()
    verified = ngram_jaccard_pairs(
        d, _md5_cands(sh), shingle_n=3, shingles=sh
    ).filter(F.col("jaccard") >= 0.8)
    clusters = dedup_clusters(verified)
    labeled = d.select("doc_id").join(
        clusters.withColumnRenamed("id", "doc_id"), on="doc_id", how="left"
    ).withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
    return labeled.select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    ).orderBy("doc_id")


# DuckDB twin: identical md5 signature/band/verify chain, then
# connected components as a recursive reachability closure — cluster_id
# = min id reachable over verified edges.  Candidate sets are LSH-capped
# upstream in spirit, but at sf<=0.01 the raw closure is tiny.
ORACLE_NEAR_DEDUP_KEEP = f"""
WITH RECURSIVE {_SQL_SHINGLES},
{_SQL_CANDS}, verified AS (
  SELECT c.id_a, c.id_b
  FROM cands c
  JOIN sets sa ON sa.doc_id = c.id_a
  JOIN sets sb ON sb.doc_id = c.id_b
  WHERE CAST(len(list_intersect(sa.ls, sb.ls)) AS DOUBLE)
        / (len(sa.ls) + len(sb.ls) - len(list_intersect(sa.ls, sb.ls)))
        >= 0.8
), edges AS (
  SELECT id_a AS s, id_b AS d FROM verified
  UNION
  SELECT id_b AS s, id_a AS d FROM verified
), reach AS (
  SELECT s AS id, s AS r FROM edges
  UNION
  SELECT e.s AS id, reach.r AS r
  FROM edges e JOIN reach ON e.d = reach.id
), clusters AS (
  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
)
SELECT d.doc_id,
       CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
       d.doc_id = coalesce(c.cluster_id, d.doc_id) AS keep
FROM documents d
LEFT JOIN clusters c ON c.id = d.doc_id
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------
# Corpus heavy-hitters (operators/heavyhitters.py) — boilerplate
# detection: top-k word trigrams by document frequency
# ---------------------------------------------------------------------


def q_heavy_hitters(spark, sf_dir):
    """Top-20 word trigrams by document frequency over the documents
    corpus — the boilerplate-detection heavy-hitters query.  Plan
    shape: partial-agg groupBy + TakeOrderedAndProject (per-partition
    top-k, no global sort); ties broken by gram ascending so the k-cut
    is deterministic and hash-gateable."""
    from grass_spark.operators.heavyhitters import ngram_heavy_hitters

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = ngram_heavy_hitters(docs, n=3, k=20)
    return out.select("gram", F.col("doc_freq").cast("long").alias("doc_freq"))


ORACLE_HEAVY_HITTERS = f"""
WITH {_SQL_SHINGLES}
SELECT s AS gram, CAST(count(*) AS BIGINT) AS doc_freq
FROM sh
GROUP BY s
ORDER BY doc_freq DESC, gram ASC
LIMIT 20
"""


# ---------------------------------------------------------------------
# Benchmark decontamination (operators/decontaminate.py) — the 13-gram
# overlap rule: flag and drop training docs sharing a word 13-gram
# with a held-out benchmark split
# ---------------------------------------------------------------------

#: deterministic benchmark split: every 10th doc_id is "the eval suite"
_SQL_SH13 = """
  nrm AS (
    SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
    FROM documents
  ), w13 AS (
    SELECT doc_id, string_split(t, ' ') AS ws FROM nrm
  ), sh13 AS (
    SELECT doc_id,
           CAST(greatest(len(ws) - 12, 1) AS BIGINT) AS n_shingles,
           CAST(g.i - 1 AS BIGINT) AS idx,
           array_to_string(ws[g.i:g.i+12], ' ') AS s
    FROM w13, unnest(generate_series(1, greatest(len(ws) - 12, 1))) AS g(i)
  ),
  bench13 AS (
    SELECT DISTINCT doc_id AS bench_id, s FROM sh13 WHERE doc_id % 10 = 0
  ),
  corpus13 AS (
    SELECT doc_id, n_shingles, idx, s FROM sh13 WHERE doc_id % 10 <> 0
  )
"""


def _bench_split(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
    )


def q_contamination(spark, sf_dir):
    """Per-document benchmark-contamination report (13-gram overlap).

    Plan shape: corpus shingles are a map-side explode; the benchmark
    shingle set is broadcast (eval-suite-sized), so the probe is a BHJ
    and the only corpus-keyed shuffle is the per-doc report groupBy
    over *hit rows only*."""
    from grass_spark.operators.decontaminate import contamination_report

    corpus, bench = _bench_split(spark, sf_dir)
    rep = contamination_report(corpus, bench, n=13)
    return rep.select(
        "doc_id", "n_shingles", "n_hit_shingles", "n_bench_docs",
        F.round("contamination", 6).alias("contamination"),
    )


ORACLE_CONTAMINATION = f"""
WITH {_SQL_SH13}
SELECT c.doc_id, c.n_shingles,
       CAST(count(DISTINCT c.idx) AS BIGINT) AS n_hit_shingles,
       CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs,
       round(CAST(count(DISTINCT c.idx) AS DOUBLE) / c.n_shingles, 6)
         AS contamination
FROM corpus13 c JOIN bench13 b USING (s)
GROUP BY c.doc_id, c.n_shingles
"""


def q_decontaminate_keep(spark, sf_dir):
    """Surviving doc_ids after dropping benchmark-contaminated docs —
    the end-to-end ``decontaminate`` anti-join (corpus never shuffles:
    flagged ids broadcast into a left-anti BHJ)."""
    from grass_spark.operators.decontaminate import decontaminate

    corpus, bench = _bench_split(spark, sf_dir)
    return decontaminate(corpus, bench, n=13).select("doc_id")


ORACLE_DECONTAMINATE_KEEP = f"""
WITH {_SQL_SH13}
SELECT doc_id FROM documents WHERE doc_id % 10 <> 0
  AND doc_id NOT IN (
    SELECT DISTINCT c.doc_id FROM corpus13 c JOIN bench13 b USING (s)
  )
"""


# ---------------------------------------------------------------------
# Segment-level dedup (operators/segdedup.py) — CCNet-style span dedup:
# keep the corpus-wide first occurrence of every 10-word chunk
# ---------------------------------------------------------------------


def q_chunk_dedup(spark, sf_dir):
    """Per-document segment-dedup report: non-overlapping 10-word
    chunks, corpus-wide first occurrence (by doc_id, position) kept,
    cleaned text reconstructed in order."""
    from grass_spark.operators.segdedup import dedup_segments, segments_by_words

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup_segments(segments_by_words(d, "text", 10)).select(
        "doc_id", "n_segments", "n_kept", "dedup_text"
    )


ORACLE_CHUNK_DEDUP = """
WITH sel AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                      ' ') AS ws
  FROM documents
), chunks AS (
  SELECT doc_id, CAST((g.s - 1) // 10 AS BIGINT) AS seg_idx,
         array_to_string(ws[g.s:g.s+9], ' ') AS seg
  FROM sel, unnest(generate_series(1, len(ws), 10)) AS g(s)
), nz AS (
  SELECT * FROM chunks WHERE seg <> ''
), rn AS (
  SELECT *, row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx)
           AS rn
  FROM nz
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' '
                           ORDER BY seg_idx), '') AS dedup_text
FROM rn GROUP BY doc_id
"""


# ---------------------------------------------------------------------
# Sequence packing (operators/pack.py) — concat-and-chunk documents
# into fixed 256-token training sequences, per-language shards
# ---------------------------------------------------------------------


def q_pack_sequences(spark, sf_dir):
    """One row per (doc, sequence) overlap: language-sharded streams,
    docs ordered by doc_id, cut every 256 whitespace tokens."""
    from grass_spark.operators.dedup import normalize_text
    from grass_spark.operators.pack import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.size(F.split(normalize_text(F.col("text")), " "))
        .cast("bigint")
        .alias("n_tokens"),
    )
    return pack_sequences(d, 256, group_col="lang").select(
        "lang", "seq_id", "doc_id", "n_tokens",
        "doc_tok_start", "doc_tok_end", "seq_off",
    )


ORACLE_PACK_SEQUENCES = """
WITH toks AS (
  SELECT lang, doc_id,
         CAST(len(string_split(regexp_replace(lower(trim(text)), '\\s+',
                                              ' ', 'g'), ' '))
              AS BIGINT) AS n_tokens
  FROM documents
), cum AS (
  SELECT lang, doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_end
  FROM toks WHERE n_tokens > 0
), spans AS (
  SELECT *, cum_end - n_tokens AS cum_start FROM cum
)
SELECT lang, CAST(g.s AS BIGINT) AS seq_id, doc_id, n_tokens,
       CAST(greatest(0, g.s * 256 - cum_start) AS BIGINT)
         AS doc_tok_start,
       CAST(least(n_tokens, (g.s + 1) * 256 - cum_start) AS BIGINT)
         AS doc_tok_end,
       CAST(cum_start + greatest(0, g.s * 256 - cum_start) - g.s * 256
            AS BIGINT) AS seq_off
FROM spans,
     unnest(generate_series(cum_start // 256, (cum_end - 1) // 256))
       AS g(s)
"""


# ---------------------------------------------------------------------
# Corpus mixture + deterministic hash sampling (operators/sampling.py)
# ---------------------------------------------------------------------

#: target language mixture for the sampling queries (token shares of a
#: 20k-char output budget, weighted by the n_chars column)
_MIX_TARGETS = {"en": 0.3, "de": 0.2, "es": 0.2, "fr": 0.15, "zh": 0.15}
_MIX_BUDGET = 20000

_SQL_MIX_SHARE = (
    "CAST(CASE lang WHEN 'en' THEN 0.3 WHEN 'de' THEN 0.2 "
    "WHEN 'es' THEN 0.2 WHEN 'fr' THEN 0.15 WHEN 'zh' THEN 0.15 "
    "ELSE 0.0 END AS DOUBLE)"
)


def q_corpus_mixture(spark, sf_dir):
    """Per-language keep rates realizing the target mixture: rate =
    min(1, share * budget / group_chars)."""
    from grass_spark.operators.sampling import mixture_rates

    d = _t(spark, sf_dir, "documents").select("lang", "n_chars")
    return mixture_rates(
        d, _MIX_TARGETS, _MIX_BUDGET, weight_col="n_chars"
    ).select(
        "lang", "n_docs", "tokens", "target_share",
        F.round("keep_rate", 6).alias("keep_rate"),
    )


ORACLE_CORPUS_MIXTURE = f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS tokens,
       {_SQL_MIX_SHARE} AS target_share,
       round(least(1.0, {_SQL_MIX_SHARE} * {_MIX_BUDGET}
                        / CAST(sum(n_chars) AS BIGINT)), 6) AS keep_rate
FROM documents GROUP BY lang
"""


def q_mixture_sample(spark, sf_dir):
    """End-to-end mixture sampling: the tiny mixture_rates frame
    broadcasts into a deterministic md5-hash filter — the corpus side
    never shuffles, and any engine reproduces the same sample."""
    from grass_spark.operators.sampling import hash_sample, mixture_rates

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    rates = mixture_rates(d, _MIX_TARGETS, _MIX_BUDGET, weight_col="n_chars")
    return hash_sample(d, rates, salt="mix1").select("doc_id", "lang")


ORACLE_MIXTURE_SAMPLE = f"""
WITH r AS (
  SELECT lang,
         least(1.0, {_SQL_MIX_SHARE} * {_MIX_BUDGET}
                    / CAST(sum(n_chars) AS BIGINT)) AS keep_rate
  FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang
FROM documents d JOIN r USING (lang)
WHERE CAST(('0x' || substr(md5(d.doc_id || ':mix1'), 1, 8)) AS UBIGINT)
      / 4294967296.0 < r.keep_rate
"""


# ---------------------------------------------------------------------
# PII redaction (operators/redact.py) — documents enriched with
# deterministic synthetic PII (both engines build the same strings), so
# the regex rules are exercised for real on every row
# ---------------------------------------------------------------------

_SQL_PII_ENRICH = """
  SELECT doc_id,
         text || ' contact user' || doc_id || '@mail.example.com'
              || ' from 10.0.' || (doc_id % 256) || '.1'
              || CASE WHEN doc_id % 3 = 0
                      THEN ' ssn '
                           || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                           || '-'
                           || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                           || '-'
                           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END
              || CASE WHEN doc_id % 5 = 0
                      THEN ' call +1 (415) 555-0199' ELSE '' END AS text
  FROM documents
"""


def _pii_enrich(d):
    did = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did.cast("string"),
            F.lit("@mail.example.com"),
            F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".1"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" ssn "),
                    F.lpad((did % 1000).cast("string"), 3, "0"), F.lit("-"),
                    F.lpad((did % 100).cast("string"), 2, "0"), F.lit("-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.lit(" call +1 (415) 555-0199"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )


def q_pii_redact(spark, sf_dir):
    """Typed PII scrubbing: per-rule match counts + the redacted text.
    Pure regexp column expressions — zero shuffles, zero UDFs."""
    from grass_spark.operators.redact import redact

    d = _pii_enrich(_t(spark, sf_dir, "documents"))
    out = redact(d)
    return out.select(
        "doc_id", "n_email", "n_ipv4", "n_ssn", "n_digits", "text"
    )


def _oracle_pii_redact() -> str:
    """Build the DuckDB twin FROM the same PII_RULES table the engine
    uses — one source of truth for the patterns."""
    from grass_spark.operators.redact import PII_RULES

    sql = f"WITH s0 AS (\n{_SQL_PII_ENRICH}\n)"
    prev, counts = "s0", []
    for i, (kind, pat, token) in enumerate(PII_RULES, start=1):
        counts.append(f"n_{kind}")
        keep = ", ".join(counts[:-1])
        keep = keep + ", " if keep else ""
        sql += (
            f", s{i} AS (\n"
            f"  SELECT doc_id, {keep}"
            f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT)"
            f" AS n_{kind},\n"
            f"         regexp_replace(text, '{pat}', '{token}', 'g') AS text\n"
            f"  FROM {prev}\n)"
        )
        prev = f"s{i}"
    return (
        sql
        + f"\nSELECT doc_id, {', '.join(counts)}, text FROM {prev}"
    )


# ---------------------------------------------------------------------
# Repetition quality signals (operators/repetition.py) — the Gopher /
# MassiveText repetition-fraction filters
# ---------------------------------------------------------------------


def q_repetition(spark, sf_dir):
    """Per-doc word repetition, top-2-gram share, duplicated-5-gram
    share — the standard low-quality-document signals."""
    from grass_spark.operators.repetition import repetition_stats

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    r = repetition_stats(d, top_n=2, dup_n=5)
    return r.select(
        "doc_id", "n_words",
        F.round("word_rep_frac", 6).alias("word_rep_frac"),
        F.round("top2_frac", 6).alias("top2_frac"),
        F.round("dup5_frac", 6).alias("dup5_frac"),
    )


ORACLE_REPETITION = """
WITH w AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                      ' ') AS ws
  FROM documents
), base AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
         round(1.0 - len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE), 6)
           AS word_rep_frac
  FROM w
), g2 AS (
  SELECT doc_id, array_to_string(ws[g.i:g.i+1], ' ') AS g
  FROM w, unnest(generate_series(1, len(ws) - 1)) AS g(i)
  WHERE len(ws) >= 2
), a2 AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS total, max(c) AS top
  FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g)
  GROUP BY doc_id
), g5 AS (
  SELECT doc_id, array_to_string(ws[g.i:g.i+4], ' ') AS g
  FROM w, unnest(generate_series(1, len(ws) - 4)) AS g(i)
  WHERE len(ws) >= 5
), a5 AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup
  FROM (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT b.doc_id, b.n_words, b.word_rep_frac,
       round(coalesce(a2.top / CAST(a2.total AS DOUBLE), 0.0), 6)
         AS top2_frac,
       round(coalesce(a5.dup / CAST(a5.total AS DOUBLE), 0.0), 6)
         AS dup5_frac
FROM base b
LEFT JOIN a2 USING (doc_id)
LEFT JOIN a5 USING (doc_id)
"""


# ---------------------------------------------------------------------
# N-gram LM perplexity (operators/lm.py) — the CCNet quality filter:
# self-scored add-0.5 bigram model over the documents corpus
# ---------------------------------------------------------------------


def q_lm_perplexity(spark, sf_dir):
    """Per-doc bigram cross-entropy + perplexity against the corpus's
    own bigram statistics (outlier detection mode).  Model = two count
    frames + a 1-row broadcast vocab; scoring = two equi-joins and one
    groupBy(doc)."""
    from grass_spark.operators.lm import lm_score

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = lm_score(d)
    return out.select(
        "doc_id", "n_bigrams",
        F.round("logprob", 6).alias("logprob"),
        F.round("perplexity", 6).alias("perplexity"),
    )


ORACLE_LM_PERPLEXITY = """
WITH w AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                      ' ') AS ws
  FROM documents
), pos AS (
  SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
  FROM w, unnest(generate_series(1, len(ws) - 1)) AS g(i)
  WHERE len(ws) >= 2
), big AS (
  SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12 FROM pos GROUP BY w1, w2
), uni AS (
  SELECT w1, CAST(sum(c12) AS DOUBLE) AS c1 FROM big GROUP BY w1
), voc AS (
  SELECT CAST(count(DISTINCT wrd) AS DOUBLE) AS v
  FROM (SELECT unnest(ws) AS wrd FROM w)
), sc AS (
  SELECT p.doc_id,
         -log2((coalesce(b.c12, 0) + 0.5)
               / (coalesce(u.c1, 0) + 0.5 * voc.v)) AS nlp
  FROM pos p
  LEFT JOIN big b USING (w1, w2)
  LEFT JOIN uni u USING (w1)
  CROSS JOIN voc
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(nlp), 6) AS logprob,
       round(pow(2.0, avg(nlp)), 6) AS perplexity
FROM sc GROUP BY doc_id
"""


# =====================================================================
# SemDeDup-style semantic dedup over the embeddings table, the
# deterministic training-export sharder and dataset splits.
# =====================================================================


# ---------------------------------------------------------------------
# SemDeDup (operators/semdedup.py) — seeded-centroid clustering, within-
# cluster cosine edges, connected components -> survivor per group
# ---------------------------------------------------------------------


def q_semantic_dedup(spark, sf_dir):
    """Semantic dedup over the embeddings table: 16 seeded centroids
    (the 16 smallest vec_ids), within-cluster cosine >= 0.35 edges,
    pointer-doubling components, keep = smallest id per group.  The
    threshold is calibrated to the synthetic near-orthogonal vectors
    (max pairwise cosine ~0.51) so the result is non-trivial; real
    corpora run ~0.9.  cluster_cap=None because the DuckDB twin replays
    the UNCAPPED pairing; the auto cap's bounded-work contract is
    pinned by the adversarial one-cluster test in tests."""
    from grass_spark.operators.semdedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, k=16, threshold=0.35, cluster_cap=None
    ).orderBy("vec_id")


# DuckDB twin: identical seeded centroids, argmax-cosine assignment
# (row_number with the same (sim desc, c_id) tie-break), rounded-sim
# edges, recursive reachability closure for the components.
ORACLE_SEMANTIC_DEDUP = """
WITH RECURSIVE e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), cent AS (
  SELECT vec_id AS c_id, e AS ce FROM e ORDER BY vec_id LIMIT 16
), sims AS (
  SELECT e.vec_id, cent.c_id, e.e,
         round(list_inner_product(e.e, cent.ce)
               / (sqrt(list_inner_product(e.e, e.e))
                  * sqrt(list_inner_product(cent.ce, cent.ce))), 6) AS sim
  FROM e CROSS JOIN cent
), assign AS (
  SELECT vec_id, c_id, e FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
    FROM sims
  ) WHERE rn = 1
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assign a JOIN assign b
    ON a.c_id = b.c_id AND a.vec_id < b.vec_id
  WHERE round(list_inner_product(a.e, b.e)
              / (sqrt(list_inner_product(a.e, a.e))
                 * sqrt(list_inner_product(b.e, b.e))), 6) >= 0.35
), edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b AS s, id_a AS d FROM pairs
), reach AS (
  SELECT s AS id, s AS r FROM edges
  UNION
  SELECT e.s AS id, reach.r AS r
  FROM edges e JOIN reach ON e.d = reach.id
), clusters AS (
  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
)
SELECT v.vec_id,
       CAST(coalesce(c.cluster_id, v.vec_id) AS BIGINT) AS cluster_id,
       v.vec_id = coalesce(c.cluster_id, v.vec_id) AS keep
FROM embeddings v
LEFT JOIN clusters c ON c.id = v.vec_id
ORDER BY v.vec_id
"""


# ---------------------------------------------------------------------
# Training-export sharder (operators/export.py) — deterministic hash
# permutation, 8 shards, per-shard positions
# ---------------------------------------------------------------------


def q_export_shards(spark, sf_dir):
    """Deterministic export shuffle: every document labeled with its
    shard (md5-hash permutation, 8 shards) and 0-based position within
    the shard.  One shuffle (the shard repartition) at scale."""
    from grass_spark.operators.export import shard_assignments

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return shard_assignments(d, 8, salt="export").select(
        "doc_id", "shard_id", F.col("pos").cast("long").alias("pos"), "n_chars"
    )


ORACLE_EXPORT_SHARDS = """
WITH u AS (
  SELECT doc_id, n_chars,
         CAST(('0x' || substr(md5(doc_id || ':export'), 1, 8)) AS UBIGINT)
           / 4294967296.0 AS u
  FROM documents
)
SELECT doc_id,
       CAST(floor(u * 8) AS INTEGER) AS shard_id,
       CAST(row_number() OVER (
         PARTITION BY floor(u * 8) ORDER BY u, doc_id) - 1 AS BIGINT) AS pos,
       n_chars
FROM u
"""


def q_dataset_splits(spark, sf_dir):
    """Deterministic train/val/test labels (75/12.5/12.5 — dyadic
    fractions so the cumulative thresholds are float-exact in any
    engine) + per-split size/char totals as a second sanity column
    set.  The label is a scan-stage CASE chain; the only shuffle is
    the tiny per-split rollup."""
    from grass_spark.operators.export import split_assignments

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    lab = split_assignments(
        d, {"train": 0.75, "val": 0.125, "test": 0.125}
    )
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


ORACLE_DATASET_SPLITS = """
WITH u AS (
  SELECT doc_id, n_chars,
         CAST(('0x' || substr(md5(doc_id || ':split'), 1, 8)) AS UBIGINT)
           / 4294967296.0 AS u
  FROM documents
), lab AS (
  SELECT doc_id, n_chars,
         CASE WHEN u < 0.75 THEN 'train'
              WHEN u < 0.875 THEN 'val'
              ELSE 'test' END AS split
  FROM u
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM lab GROUP BY split
"""


# =====================================================================
# Training-data operators — tokenizer-accurate subword counts, the
# incremental dedup store's delta-vs-from-scratch equality, and the
# filters, samplers and reports that build on them.
# =====================================================================


# ---------------------------------------------------------------------
# Tokenizer-accurate token counts (operators/textstats.py) — greedy
# longest-match subword tokenization, vocab compiled to ONE regex whose
# length-descending alternation makes leftmost-first == greedy-longest
# in java.util.regex and RE2 alike (bit-identical across engines).
# ---------------------------------------------------------------------


def q_subword_tokens(spark, sf_dir):
    """Per document: whitespace token count vs greedy-subword token
    count over the built-in vocab, plus the expansion ratio that
    mixture/packing budgets should use.  Pure scan-stage expressions —
    zero shuffles at any scale."""
    from grass_spark.operators.textstats import subword_token_counts

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = subword_token_counts(d)
    n_ws = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    return out.select(
        "doc_id",
        "lang",
        n_ws.alias("n_ws_tokens"),
        F.col("n_subword_tokens"),
        F.round(F.col("n_subword_tokens") / n_ws, 6).alias("subword_per_ws"),
    ).orderBy("doc_id")


def _subword_oracle() -> str:
    from grass_spark.operators.textstats import (
        DEFAULT_SUBWORDS,
        greedy_vocab_pattern,
    )

    pat = greedy_vocab_pattern(DEFAULT_SUBWORDS)
    # the default vocab is alphanumeric: the pattern embeds into a SQL
    # single-quoted literal with no escaping concerns
    return f"""
WITH t AS (
  SELECT doc_id, lang, text,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
)
SELECT doc_id, lang,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         AS n_ws_tokens,
       CAST(len(regexp_extract_all(norm, '{pat}')) AS BIGINT)
         AS n_subword_tokens,
       round(CAST(len(regexp_extract_all(norm, '{pat}')) AS DOUBLE)
             / len(regexp_split_to_array(trim(text), '\\s+')), 6)
         AS subword_per_ws
FROM t
ORDER BY doc_id
"""


# ---------------------------------------------------------------------
# Incremental dedup store (operators/dedup_store.py) — build a store on
# the first half of the corpus, ingest the second half as a delta, and
# the delta labels must equal a FROM-SCRATCH near-dedup over the whole
# corpus restricted to the delta ids.  The oracle is exactly that
# from-scratch run (same md5 signature/band/verify chain as
# near_dedup_keep) with the delta restriction.
# ---------------------------------------------------------------------


def q_delta_dedup(spark, sf_dir):
    """Delta dedup against a persisted store: (id, cluster_id, keep)
    for second-half docs, computed WITHOUT re-running LSH/CC over the
    first half (only the store's band index + candidate members are
    touched).  portable=True replays the oracle's md5 chain
    bit-for-bit; uncapped to match the oracle's capless candidates."""
    import shutil
    import tempfile

    from grass_spark.operators.dedup_store import DedupStore

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    split_id = d.agg(
        F.floor(F.max("doc_id") / 2).cast("long").alias("s")
    ).first()["s"]
    tmp = tempfile.mkdtemp(prefix="grass_spark_dedup_store_")
    try:
        store = DedupStore(
            tmp, portable=True, n_hashes=8, bands=4,
            jaccard_threshold=0.8, max_bucket_size=None,
        )
        store.build(d.filter(F.col("doc_id") <= split_id))
        out = store.ingest(spark, d.filter(F.col("doc_id") > split_id))
        # ingest(update=True) eagerly checkpoints its result, so the
        # store directory can be reclaimed before the driver collects
        return out.select(
            "doc_id",
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "keep",
        ).orderBy("doc_id")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


ORACLE_DELTA_DEDUP = f"""
WITH RECURSIVE {_SQL_SHINGLES},
{_SQL_CANDS}, verified AS (
  SELECT c.id_a, c.id_b
  FROM cands c
  JOIN sets sa ON sa.doc_id = c.id_a
  JOIN sets sb ON sb.doc_id = c.id_b
  WHERE CAST(len(list_intersect(sa.ls, sb.ls)) AS DOUBLE)
        / (len(sa.ls) + len(sb.ls) - len(list_intersect(sa.ls, sb.ls)))
        >= 0.8
), edges AS (
  SELECT id_a AS s, id_b AS d FROM verified
  UNION
  SELECT id_b AS s, id_a AS d FROM verified
), reach AS (
  SELECT s AS id, s AS r FROM edges
  UNION
  SELECT e.s AS id, reach.r AS r
  FROM edges e JOIN reach ON e.d = reach.id
), clusters AS (
  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
)
SELECT d.doc_id,
       CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
       d.doc_id = coalesce(c.cluster_id, d.doc_id) AS keep
FROM documents d
LEFT JOIN clusters c ON c.id = d.doc_id
WHERE d.doc_id > (SELECT CAST(floor(max(doc_id) / 2) AS BIGINT)
                  FROM documents)
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------
# Per-source caps (operators/caps.py) — skew-safe exact top-cap per
# source by portable uniform hash.  The Spark plan never windows the
# full frame on the bare source key (salted two-stage selection); the
# oracle IS the naive single window, proving the composition exact.
# ---------------------------------------------------------------------


def q_source_cap(spark, sf_dir):
    """Cap every source at 10 docs (all 20 sf0.01 sources exceed it —
    the pure hot path); return the kept set with its selection hash."""
    from grass_spark.operators.caps import cap_per_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = cap_per_group(
        d, 10, group_col="source", id_col="doc_id", salt="cap",
        salts=4, keep_hash=True,
    )
    return out.select(
        "doc_id", "source", F.round("_u", 6).alias("u")
    ).orderBy("source", "doc_id")


ORACLE_SOURCE_CAP = """
WITH u AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(doc_id || ':cap'), 1, 8)) AS UBIGINT)
           / 4294967296.0 AS _u
  FROM documents
), r AS (
  SELECT doc_id, source, _u,
         row_number() OVER (PARTITION BY source ORDER BY _u, doc_id) AS rn
  FROM u
)
SELECT doc_id, source, round(_u, 6) AS u
FROM r WHERE rn <= 10
ORDER BY source, doc_id
"""


# ---------------------------------------------------------------------
# Gopher quality rules (operators/quality.py) — scan-stage structural
# gates with first-fail reasons.  Thresholds tuned to the synthetic
# word-soup docs so both keeps and several reject reasons appear.
# ---------------------------------------------------------------------


def q_quality_filter(spark, sf_dir):
    from grass_spark.operators.quality import QualityRules, quality_filter

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    rules = QualityRules(min_words=30, max_words=90,
                         min_mean_word_len=3.5, min_stopwords=1)
    out = quality_filter(d, rules)
    return out.select(
        "doc_id",
        "source",
        "n_words",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("alpha_word_frac", 6).alias("alpha_word_frac"),
        F.col("n_stop_present"),
        "reject_reason",
        "keep",
    ).orderBy("doc_id")


ORACLE_QUALITY_FILTER = r"""
WITH t AS (
  SELECT doc_id, source, text,
         regexp_split_to_array(trim(text), '\s+') AS words,
         split(text, chr(10)) AS lines,
         ' ' || lower(text) || ' ' AS padded
  FROM documents
), m AS (
  SELECT doc_id, source,
    CAST(len(words) AS BIGINT) AS n_words,
    CAST(len(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
      / len(words) AS mean_word_len,
    (CAST(len(text) - len(replace(text, '#', '')) AS DOUBLE)
       + (len(text) - len(replace(text, '...', ''))) / 3.0)
      / len(words) AS symbol_ratio,
    CAST(len(list_filter(lines, x -> regexp_matches(x, '^\s*[-*•]')))
         AS DOUBLE) / len(lines) AS bullet_line_frac,
    CAST(len(list_filter(lines, x -> regexp_matches(x, '\.\.\.\s*$')))
         AS DOUBLE) / len(lines) AS ellipsis_line_frac,
    CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))
         AS DOUBLE) / len(words) AS alpha_word_frac,
    CAST((CASE WHEN position(' the '  IN padded) > 0 THEN 1 ELSE 0 END
        + CASE WHEN position(' be '   IN padded) > 0 THEN 1 ELSE 0 END
        + CASE WHEN position(' to '   IN padded) > 0 THEN 1 ELSE 0 END
        + CASE WHEN position(' of '   IN padded) > 0 THEN 1 ELSE 0 END
        + CASE WHEN position(' and '  IN padded) > 0 THEN 1 ELSE 0 END
        + CASE WHEN position(' that ' IN padded) > 0 THEN 1 ELSE 0 END
        + CASE WHEN position(' have ' IN padded) > 0 THEN 1 ELSE 0 END
        + CASE WHEN position(' with ' IN padded) > 0 THEN 1 ELSE 0 END)
      AS BIGINT) AS n_stop_present
  FROM t
), g AS (
  SELECT *,
    CASE
      WHEN n_words < 30 THEN 'n_words_low'
      WHEN n_words > 90 THEN 'n_words_high'
      WHEN mean_word_len < 3.5 OR mean_word_len > 10.0
        THEN 'mean_word_len'
      WHEN symbol_ratio > 0.1 THEN 'symbol_ratio'
      WHEN bullet_line_frac > 0.9 THEN 'bullet_lines'
      WHEN ellipsis_line_frac > 0.3 THEN 'ellipsis_lines'
      WHEN alpha_word_frac < 0.8 THEN 'alpha_words'
      WHEN n_stop_present < 1 THEN 'stopwords'
      ELSE 'keep'
    END AS reject_reason
  FROM m
)
SELECT doc_id, source, n_words,
       round(mean_word_len, 6) AS mean_word_len,
       round(alpha_word_frac, 6) AS alpha_word_frac,
       n_stop_present,
       reject_reason,
       reject_reason = 'keep' AS keep
FROM g
ORDER BY doc_id
"""


# ---------------------------------------------------------------------
# Exact-substring duplicate spans (operators/spans.py) — Lee et al.
# ExactSubstr re-expressed as duplicated sliding windows + per-doc
# interval merge.  The Spark census is one combinable groupBy (count +
# first-occurrence election in a single min(struct) pass); the oracle
# is the naive window formulation, proving the composition exact.
# ---------------------------------------------------------------------

_SPAN_N = 6


def q_dup_spans(spark, sf_dir):
    """Per document: duplicated-window census, maximal removable spans
    (corpus-wide first occurrence protected), coverage fraction, and
    the md5 of the span-removed text."""
    from grass_spark.operators.spans import duplicate_spans

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = duplicate_spans(d, n=_SPAN_N)
    return out.select(
        "doc_id",
        "n_words",
        "n_windows",
        "n_dup_windows",
        "n_spans",
        "dup_words",
        F.round("dup_frac", 6).alias("dup_frac"),
        F.md5("clean_text").alias("clean_md5"),
    ).orderBy("doc_id")


ORACLE_DUP_SPANS = f"""
WITH t AS (
  SELECT doc_id,
         split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
           AS ws
  FROM documents
), base AS (
  SELECT doc_id, ws, len(ws) AS nw FROM t
), w AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(ws[i+1:i+{_SPAN_N}], ' ') AS gram
  FROM base, unnest(range(0, nw - {_SPAN_N} + 1)) AS u(i)
  WHERE nw >= {_SPAN_N}
), f AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY gram) AS cnt,
         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
  FROM w
), dupw AS (SELECT * FROM f WHERE cnt >= 2),
rem AS (SELECT doc_id, pos FROM dupw WHERE rn > 1),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(
                lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                  + {_SPAN_N}, -1)
              THEN 1 ELSE 0 END AS is_new
  FROM rem
), sid AS (
  SELECT doc_id, pos,
         sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
), spans AS (
  SELECT doc_id, sid, min(pos) AS s, max(pos) + {_SPAN_N} - 1 AS e
  FROM sid GROUP BY doc_id, sid
), perdoc AS (
  SELECT doc_id,
         count(*) AS n_spans,
         sum(e - s + 1) AS dup_words,
         list(struct_pack(s := s, e := e) ORDER BY s) AS sp
  FROM spans GROUP BY doc_id
), dcount AS (
  SELECT doc_id, count(*) AS n_dup FROM dupw GROUP BY doc_id
)
SELECT b.doc_id,
  CAST(b.nw AS BIGINT) AS n_words,
  CAST(CASE WHEN b.nw >= {_SPAN_N} THEN b.nw - {_SPAN_N} + 1 ELSE 0 END
       AS BIGINT) AS n_windows,
  CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup_windows,
  CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
  CAST(coalesce(p.dup_words, 0) AS BIGINT) AS dup_words,
  round(CAST(coalesce(p.dup_words, 0) AS DOUBLE) / b.nw, 6) AS dup_frac,
  CASE WHEN p.sp IS NULL THEN md5(array_to_string(b.ws, ' '))
       -- coalesce: DuckDB array_to_string([]) is NULL, Spark's is ''
       ELSE md5(coalesce(array_to_string(
              list_filter(b.ws, (x, i) ->
                len(list_filter(p.sp,
                                q -> i - 1 BETWEEN q.s AND q.e)) = 0),
              ' '), ''))
  END AS clean_md5
FROM base b
LEFT JOIN dcount d USING (doc_id)
LEFT JOIN perdoc p USING (doc_id)
ORDER BY b.doc_id
"""


# ---------------------------------------------------------------------
# Corpus TF-IDF keywords (operators/keywords.py) — tf = groupBy(id,word),
# df = groupBy(word) (both map-side combinable), score = tf * ln(N/df)
# rounded to 6 dp, top-5 per doc by (score desc, word asc).  The rank
# window partitions on the DOC id — bounded by one document's distinct
# vocabulary, never corpus-hot.
# ---------------------------------------------------------------------


def q_tfidf_keywords(spark, sf_dir):
    """Top-5 TF-IDF keywords per document over the documents table."""
    from grass_spark.operators.keywords import tfidf_keywords

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_keywords(d, top_k=5).orderBy("doc_id", "rank")


ORACLE_TFIDF = """
WITH words AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2
), dfreq AS (
  SELECT word, count(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(*) AS n FROM documents
), scored AS (
  SELECT tf.doc_id, tf.word, tf.tf,
         round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 6) AS score
  FROM tf JOIN dfreq USING (word) CROSS JOIN n
), ranked AS (
  SELECT doc_id, word, tf, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, word ASC) AS rank
  FROM scored
)
SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, score,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
ORDER BY doc_id, rank
"""


# ---------------------------------------------------------------------
# Hashed linear quality classifier (operators/classify.py) — fastText-
# style feature hashing: bucket = portable-md5(word) % D, model is a
# tiny (bucket, weight) table that BROADCASTS, score = one map-side-
# combinable groupBy(doc).  The synthetic weight table derives from the
# bucket ids' own md5 so DuckDB rebuilds the exact model.
# ---------------------------------------------------------------------

_CLF_BUCKETS = 1024


def q_quality_classifier(spark, sf_dir):
    """Per-document hashed-linear quality score + sigmoid prob."""
    from grass_spark.operators.classify import (
        linear_quality_score,
        synth_weights,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = synth_weights(spark, _CLF_BUCKETS)
    return linear_quality_score(
        d, w, n_buckets=_CLF_BUCKETS
    ).orderBy("doc_id")


ORACLE_CLASSIFIER = f"""
WITH weights AS (
  SELECT bucket,
         round(CAST('0x' || substr(md5(bucket || ':w'), 1, 8) AS UBIGINT)
               / 4294967296.0 * 2.0 - 1.0, 6) AS weight
  FROM (SELECT unnest(range({_CLF_BUCKETS})) AS bucket)
), toks AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(unnest(
               regexp_extract_all(lower(text), '[a-z0-9]+')) || ':'), 1, 8)
              AS UBIGINT) % {_CLF_BUCKETS} AS bucket
  FROM documents
), agg AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         round(sum(w.weight), 6) AS score
  FROM toks t JOIN weights w USING (bucket)
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, score,
       round(1.0 / (1.0 + exp(-(score / n_tokens))), 6) AS prob
FROM agg ORDER BY doc_id
"""


# ---------------------------------------------------------------------
# Sliding-window chunking (operators/chunks.py) — RAG / context-window
# prep: one Generate per doc, zero shuffles; trailing partial window
# emitted iff it starts inside the text.
# ---------------------------------------------------------------------

_CHUNK_SIZE, _CHUNK_STRIDE = 32, 16


def q_doc_chunks(spark, sf_dir):
    """Overlapping 32-word windows at stride 16 over every document;
    chunk text hashed so the row stays narrow."""
    from grass_spark.operators.chunks import chunk_documents

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = chunk_documents(d, size=_CHUNK_SIZE, stride=_CHUNK_STRIDE)
    return out.select(
        "doc_id", "chunk_idx", "chunk_start", "n_chunk_words",
        F.md5("chunk_text").alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


ORACLE_CHUNKS = f"""
WITH base AS (
  SELECT doc_id,
         regexp_split_to_array(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
  FROM documents
), live AS (
  SELECT doc_id, ws, len(ws) AS n
  FROM base WHERE array_to_string(ws, '') <> ''
), starts AS (
  SELECT doc_id, ws,
         unnest(range(0, CAST(floor((n - 1) / {_CHUNK_STRIDE}) AS BIGINT)
                         * {_CHUNK_STRIDE} + 1, {_CHUNK_STRIDE})) AS s
  FROM live
), chunks AS (
  SELECT doc_id,
         CAST(s / {_CHUNK_STRIDE} AS INT) AS chunk_idx,
         CAST(s AS INT) AS chunk_start,
         list_slice(ws, s + 1, s + {_CHUNK_SIZE}) AS cw
  FROM starts
)
SELECT doc_id, chunk_idx, chunk_start,
       CAST(len(cw) AS INT) AS n_chunk_words,
       md5(array_to_string(cw, ' ')) AS chunk_md5
FROM chunks ORDER BY doc_id, chunk_idx
"""


# ---------------------------------------------------------------------
# BPE vocabulary training (operators/bpe.py) — the corpus is scanned
# once (word-frequency groupBy); merge rounds run on the vocab-sized
# frame.  The per-round argmax is iterative — not one SQL query — so
# this entry is rows-only by design (same class as infer_granularity).
# ---------------------------------------------------------------------


def q_bpe_merges(spark, sf_dir):
    """First 12 BPE merges learned from the documents corpus, in merge
    order — deterministic replay (freq ties break lexicographically)."""
    from grass_spark.operators.bpe import learn_bpe

    d = _t(spark, sf_dir, "documents").select("text")
    merges = learn_bpe(d, 12)
    rows = [(i, a, b, a + b, n) for i, (a, b, n) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "merge_idx int, left string, right string, piece string, freq bigint"
    ).orderBy("merge_idx")


# no oracle entry: iterative per-round argmax (rows-only driver check)


# ---------------------------------------------------------------------
# Semantic decontamination (operators/semdecon.py) — embedding-space
# benchmark leakage: bench set broadcasts, corpus streams through a
# scoring pass, ONE groupBy(id) max.  Parity: threshold compares the
# 6-dp-rounded max cosine in both engines.
# ---------------------------------------------------------------------

# random near-orthogonal sf embeddings: max-cos median ~0.24,
# p90 ~0.33 — 0.3 makes the flag column discriminate
_SEMDECON_T = 0.3


def q_semantic_contamination(spark, sf_dir):
    """Max benchmark cosine per corpus vector (bench = vec_id < 25,
    corpus = the rest) + the keep/drop flag at the 0.3 threshold."""
    from grass_spark.operators.semdecon import semantic_contamination

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = e.filter(F.col("vec_id") >= 25)
    bench = e.filter(F.col("vec_id") < 25)
    out = semantic_contamination(corpus, bench)
    return out.select(
        "vec_id", "max_bench_cos",
        (F.col("max_bench_cos") >= F.lit(_SEMDECON_T)).alias("contaminated"),
    ).orderBy("vec_id")


ORACLE_SEMDECON = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), pairs AS (
  SELECT c.vec_id,
         list_sum(list_transform(range(1, len(c.v) + 1),
                                 i -> c.v[i] * b.v[i]))
         / (sqrt(list_sum(list_transform(c.v, x -> x * x)))
            * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cos
  FROM e c CROSS JOIN e b
  WHERE c.vec_id >= 25 AND b.vec_id < 25
)
SELECT vec_id, round(max(cos), 6) AS max_bench_cos,
       round(max(cos), 6) >= {_SEMDECON_T} AS contaminated
FROM pairs GROUP BY vec_id ORDER BY vec_id
"""


# ---------------------------------------------------------------------
# Corpus drift (operators/divergence.py) — smoothed KL/JS + vocab
# overlap between two snapshot halves.  Two corpus scans; everything
# after is vocabulary-sized.
# ---------------------------------------------------------------------


def q_corpus_divergence(spark, sf_dir):
    """One summary row: token totals, vocab overlap, KL(a||b), JS
    between the even-id and odd-id document halves."""
    from grass_spark.operators.divergence import corpus_divergence

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)
    return corpus_divergence(a, b)


ORACLE_DIVERGENCE = """
WITH wa AS (
  SELECT word, count(*) AS fa FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
    FROM documents WHERE doc_id % 2 = 0) GROUP BY 1
), wb AS (
  SELECT word, count(*) AS fb FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
    FROM documents WHERE doc_id % 2 = 1) GROUP BY 1
), j AS (
  SELECT coalesce(wa.word, wb.word) AS word,
         coalesce(fa, 0) AS fa, coalesce(fb, 0) AS fb
  FROM wa FULL OUTER JOIN wb ON wa.word = wb.word
), tot AS (
  SELECT CAST(sum(fa) AS BIGINT) AS na, CAST(sum(fb) AS BIGINT) AS nb,
         CAST(count(*) AS BIGINT) AS v,
         CAST(sum(CASE WHEN fa > 0 THEN 1 ELSE 0 END) AS BIGINT) AS va,
         CAST(sum(CASE WHEN fb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vb,
         CAST(sum(CASE WHEN fa > 0 AND fb > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS vboth
  FROM j
), terms AS (
  SELECT na, nb, v, va, vb, vboth,
         (fa + 0.5) / (na + 0.5 * v) AS p,
         (fb + 0.5) / (nb + 0.5 * v) AS q
  FROM j CROSS JOIN tot
)
SELECT na AS tokens_a, nb AS tokens_b, v AS vocab_union,
       va AS vocab_a, vb AS vocab_b, vboth AS vocab_both,
       round(CAST(vboth AS DOUBLE) / v, 6) AS vocab_overlap,
       round(sum(p * ln(p / q)), 6) AS kl_ab,
       round(sum(0.5 * p * ln(p / ((p + q) / 2))
               + 0.5 * q * ln(q / ((p + q) / 2))), 6) AS js
FROM terms GROUP BY na, nb, v, va, vb, vboth
"""


# ---------------------------------------------------------------------
# Boilerplate strip (operators/segdedup.py strip_boilerplate) — the
# RefinedWeb/MassiveText frequency rule: a segment present in more
# than max_docs distinct documents is dropped EVERYWHERE (unlike
# chunk_dedup's first-occurrence election).  Census = two combinable
# groupBys; the hot-segment list is boilerplate-vocabulary-sized.
# ---------------------------------------------------------------------


def q_boilerplate_strip(spark, sf_dir):
    """Per-document boilerplate report: non-overlapping 10-word chunks,
    any chunk appearing in >1 distinct documents removed from every
    document, cleaned text reconstructed in order."""
    from grass_spark.operators.segdedup import (
        segments_by_words,
        strip_boilerplate,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return strip_boilerplate(
        segments_by_words(d, "text", 10), max_docs=1
    ).select("doc_id", "n_segments", "n_kept", "dedup_text")


ORACLE_BOILERPLATE_STRIP = """
WITH sel AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                      ' ') AS ws
  FROM documents
), chunks AS (
  SELECT doc_id, CAST((g.s - 1) // 10 AS BIGINT) AS seg_idx,
         array_to_string(ws[g.s:g.s+9], ' ') AS seg
  FROM sel, unnest(generate_series(1, len(ws), 10)) AS g(s)
), nz AS (
  SELECT * FROM chunks WHERE seg <> ''
), census AS (
  SELECT seg, count(DISTINCT doc_id) AS nd FROM nz GROUP BY seg
), flagged AS (
  SELECT nz.*, CASE WHEN census.nd > 1 THEN 0 ELSE 1 END AS keep
  FROM nz JOIN census USING (seg)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN keep = 1 THEN seg END, ' '
                           ORDER BY seg_idx), '') AS dedup_text
FROM flagged GROUP BY doc_id
"""


# ---------------------------------------------------------------------
# Keep-best representative election (operators/dedup.py
# elect_representatives) — same clustering as near_dedup_keep, but the
# survivor is the LONGEST member (max n_chars, ties -> smallest id)
# instead of the smallest id.  Oracled against the DuckDB recursive
# closure + argmax.
# ---------------------------------------------------------------------


def q_dedup_best_keep(spark, sf_dir):
    """Keep decisions where each duplicate cluster keeps its highest-
    n_chars member: md5-LSH -> Jaccard verify (>= 0.8) -> connected
    components -> argmax-score election (ties -> smallest id)."""
    from grass_spark.operators.dedup import (
        dedup_clusters,
        elect_representatives,
        ngram_jaccard_pairs,
        with_shingles,
    )

    d = _t(spark, sf_dir, "documents")
    sh = with_shingles(d, "text", 3).select("doc_id", "sh_arr").localCheckpoint()
    verified = ngram_jaccard_pairs(
        d, _md5_cands(sh), shingle_n=3, shingles=sh
    ).filter(F.col("jaccard") >= 0.8)
    clusters = dedup_clusters(verified)
    labeled = d.select("doc_id", "n_chars").join(
        clusters.withColumnRenamed("id", "doc_id"), on="doc_id", how="left"
    ).withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
    out = elect_representatives(labeled, score_col="n_chars")
    return out.select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "keep",
    ).orderBy("doc_id")


ORACLE_DEDUP_BEST_KEEP = f"""
WITH RECURSIVE {_SQL_SHINGLES},
{_SQL_CANDS}, verified AS (
  SELECT c.id_a, c.id_b
  FROM cands c
  JOIN sets sa ON sa.doc_id = c.id_a
  JOIN sets sb ON sb.doc_id = c.id_b
  WHERE CAST(len(list_intersect(sa.ls, sb.ls)) AS DOUBLE)
        / (len(sa.ls) + len(sb.ls) - len(list_intersect(sa.ls, sb.ls)))
        >= 0.8
), edges AS (
  SELECT id_a AS s, id_b AS d FROM verified
  UNION
  SELECT id_b AS s, id_a AS d FROM verified
), reach AS (
  SELECT s AS id, s AS r FROM edges
  UNION
  SELECT e.s AS id, reach.r AS r
  FROM edges e JOIN reach ON e.d = reach.id
), clusters AS (
  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
), lab AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         d.n_chars
  FROM documents d LEFT JOIN clusters c ON c.id = d.doc_id
), best AS (
  SELECT cluster_id, max(n_chars) AS b FROM lab GROUP BY cluster_id
), win AS (
  SELECT l.cluster_id, min(l.doc_id) AS keep_id
  FROM lab l JOIN best ON l.cluster_id = best.cluster_id
                      AND l.n_chars = best.b
  GROUP BY l.cluster_id
)
SELECT l.doc_id, CAST(l.cluster_id AS BIGINT) AS cluster_id,
       l.doc_id = w.keep_id AS keep
FROM lab l JOIN win w USING (cluster_id)
ORDER BY l.doc_id
"""


# ---------------------------------------------------------------------
# CCNet perplexity buckets (operators/lm.py) — per-language
# head/middle/tail strata over the self-trained bigram LM.  Thresholds
# are exact HF7 quantiles of the 6-dp-ROUNDED perplexities (Spark
# percentile == DuckDB quantile_cont), rounded again before the bucket
# comparison so JVM-vs-libm log/pow last-ulp drift can't flip a label.
# ---------------------------------------------------------------------


def q_perplexity_buckets(spark, sf_dir):
    """One row per doc with >= 1 bigram: perplexity, its language's
    head/middle cuts, and the CCNet bucket.  The |langs|-row threshold
    frame broadcasts; the corpus shuffles only in lm_score's groupBy."""
    from grass_spark.operators.lm import perplexity_buckets

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return perplexity_buckets(d)


ORACLE_PERPLEXITY_BUCKETS = """
WITH w AS (
  SELECT doc_id, lang,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                      ' ') AS ws
  FROM documents
), pos AS (
  SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
  FROM w, unnest(generate_series(1, len(ws) - 1)) AS g(i)
  WHERE len(ws) >= 2
), big AS (
  SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12 FROM pos GROUP BY w1, w2
), uni AS (
  SELECT w1, CAST(sum(c12) AS DOUBLE) AS c1 FROM big GROUP BY w1
), voc AS (
  SELECT CAST(count(DISTINCT wrd) AS DOUBLE) AS v
  FROM (SELECT unnest(ws) AS wrd FROM w)
), sc AS (
  SELECT p.doc_id,
         -log2((coalesce(b.c12, 0) + 0.5)
               / (coalesce(u.c1, 0) + 0.5 * voc.v)) AS nlp
  FROM pos p
  LEFT JOIN big b USING (w1, w2)
  LEFT JOIN uni u USING (w1)
  CROSS JOIN voc
), ppl AS (
  SELECT sc.doc_id, w.lang,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         round(pow(2.0, avg(nlp)), 6) AS perplexity
  FROM sc JOIN w USING (doc_id)
  GROUP BY sc.doc_id, w.lang
), thr AS (
  SELECT lang,
         round(CAST(quantile_cont(perplexity, 1.0/3.0) AS DOUBLE), 6)
           AS ppl_head_cut,
         round(CAST(quantile_cont(perplexity, 2.0/3.0) AS DOUBLE), 6)
           AS ppl_middle_cut
  FROM ppl GROUP BY lang
)
SELECT ppl.doc_id, ppl.lang, ppl.n_bigrams, ppl.perplexity,
       thr.ppl_head_cut, thr.ppl_middle_cut,
       CASE WHEN ppl.perplexity <= thr.ppl_head_cut THEN 'head'
            WHEN ppl.perplexity <= thr.ppl_middle_cut THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ppl JOIN thr USING (lang)
ORDER BY ppl.doc_id
"""


# ---------------------------------------------------------------------
# DSIR importance resampling (operators/dsir.py) — hashed-ngram
# likelihood-ratio weights against a target subcorpus, and the
# deterministic Gumbel-top-k sample.  Buckets and the Gumbel uniform
# are the portable md5 recipe; ln() differs JVM-vs-libm in the last
# ulp so sums and keys round to 6 dp in both engines.
# ---------------------------------------------------------------------

_DSIR_B = 1000


def q_dsir_weights(spark, sf_dir):
    """Per-doc DSIR log importance weight: target = the English
    subcorpus, raw = everything.  Featurization is two scan-stage
    Generates; the dense 1000-row log-ratio table broadcasts; one
    combinable groupBy(doc) sums the weight."""
    from grass_spark.operators.dsir import dsir_weights

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    target = d.filter(F.col("lang") == "en")
    return dsir_weights(d, target, n_buckets=_DSIR_B)


def q_dsir_sample(spark, sf_dir):
    """Gumbel-top-k DSIR sample (k=50) — reproduces bit-for-bit on any
    engine: the noise is md5-derived, the selection a TakeOrdered."""
    from grass_spark.operators.dsir import dsir_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    target = d.filter(F.col("lang") == "en")
    return dsir_sample(d, target, 50, n_buckets=_DSIR_B)


_SQL_DSIR_COMMON = """
WITH w AS (
  SELECT doc_id, lang,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                      ' ') AS ws
  FROM documents
), uni AS (
  SELECT doc_id, g
  FROM (SELECT doc_id, unnest(ws) AS g FROM w)
  WHERE g <> ''
), bi AS (
  SELECT doc_id, ws[t.i] || ' ' || ws[t.i + 1] AS g
  FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= 2
), grams AS (
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(g), 1, 8) AS UBIGINT) % 1000
              AS BIGINT) AS bucket
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
), ct AS (
  SELECT g.bucket, CAST(count(*) AS DOUBLE) AS c
  FROM grams g JOIN documents d USING (doc_id)
  WHERE d.lang = 'en' GROUP BY g.bucket
), cr AS (
  SELECT bucket, CAST(count(*) AS DOUBLE) AS c FROM grams GROUP BY bucket
), nt AS (SELECT sum(c) AS n FROM ct),
   nr AS (SELECT sum(c) AS n FROM cr),
dense AS (
  SELECT CAST(range AS BIGINT) AS bucket FROM range(1000)
), lam AS (
  SELECT dense.bucket,
         ln((coalesce(ct.c, 0) + 1.0) / (nt.n + 1.0 * 1000))
         - ln((coalesce(cr.c, 0) + 1.0) / (nr.n + 1.0 * 1000)) AS lam
  FROM dense
  LEFT JOIN ct USING (bucket)
  LEFT JOIN cr USING (bucket)
  CROSS JOIN nt CROSS JOIN nr
), wsum AS (
  SELECT doc_id, round(sum(lam), 6) AS logw
  FROM grams JOIN lam USING (bucket) GROUP BY doc_id
), allw AS (
  SELECT d.doc_id, coalesce(wsum.logw, 0.0) AS logw
  FROM documents d LEFT JOIN wsum USING (doc_id)
)
"""

ORACLE_DSIR_WEIGHTS = (
    _SQL_DSIR_COMMON + "SELECT doc_id, logw FROM allw ORDER BY doc_id"
)

ORACLE_DSIR_SAMPLE = _SQL_DSIR_COMMON + """
SELECT doc_id, logw,
       round(logw + (-ln(-ln(
         (CAST('0x' || substr(md5(doc_id || ':'), 1, 8) AS UBIGINT) + 0.5)
         / 4294967296.0))), 6) AS key
FROM allw
ORDER BY key DESC, doc_id
LIMIT 50
"""


# ---------------------------------------------------------------------
# Cluster-balanced diversity sampling (operators/semdedup.py
# diversity_sample) — assign_clusters x cap_per_group composition:
# at most `cap` vectors per semantic cluster, deterministic md5 draw.
# The DuckDB twin replays the seeded argmax assignment (same
# (sim desc, c_id asc) tie-break as the semantic_dedup oracle) and
# the naive single-window cap.
# ---------------------------------------------------------------------


def q_diversity_sample(spark, sf_dir):
    """Keep <= 10 embeddings per seeded cluster (16 centroids = the 16
    smallest vec_ids).  The hot-cluster draw goes through the salted
    two-stage window; exactness does not depend on salts."""
    from grass_spark.operators.semdedup import diversity_sample

    emb = _t(spark, sf_dir, "embeddings")
    return diversity_sample(
        emb, 10, k=16, salt="div", salts=4
    ).orderBy("vec_id")


ORACLE_DIVERSITY_SAMPLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), cent AS (
  SELECT vec_id AS c_id, e AS ce FROM e ORDER BY vec_id LIMIT 16
), sims AS (
  SELECT e.vec_id, cent.c_id,
         round(list_inner_product(e.e, cent.ce)
               / (sqrt(list_inner_product(e.e, e.e))
                  * sqrt(list_inner_product(cent.ce, cent.ce))), 6) AS sim
  FROM e CROSS JOIN cent
), assign AS (
  SELECT vec_id, c_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
    FROM sims
  ) WHERE rn = 1
), u AS (
  SELECT vec_id, c_id,
         CAST(('0x' || substr(md5(vec_id || ':div'), 1, 8)) AS UBIGINT)
           / 4294967296.0 AS _u
  FROM assign
), r AS (
  SELECT vec_id, c_id, _u,
         row_number() OVER (PARTITION BY c_id ORDER BY _u, vec_id) AS rn
  FROM u
)
SELECT vec_id, CAST(c_id AS BIGINT) AS cluster_id, round(_u, 6) AS u
FROM r WHERE rn <= 10
ORDER BY vec_id
"""


# ---------------------------------------------------------------------
# Dedup telemetry report (operators/dedup.py dedup_report) — per-source
# duplicate statistics over the near-dedup keep decisions: the
# monitoring surface a recurring ingest watches (a dup_rate spike on
# one source is the mirror-site signature).
# ---------------------------------------------------------------------


def q_dedup_report(spark, sf_dir):
    """Per-source dedup stats from the same md5-LSH -> Jaccard-verify
    (>= 0.8) -> CC chain near_dedup_keep gates; one bounded-cardinality
    groupBy(source) on top."""
    from grass_spark.operators.dedup import (
        dedup_clusters,
        dedup_report,
        ngram_jaccard_pairs,
        with_shingles,
    )

    d = _t(spark, sf_dir, "documents")
    sh = with_shingles(d, "text", 3).select("doc_id", "sh_arr").localCheckpoint()
    verified = ngram_jaccard_pairs(
        d, _md5_cands(sh), shingle_n=3, shingles=sh
    ).filter(F.col("jaccard") >= 0.8)
    clusters = dedup_clusters(verified)
    decisions = d.select("doc_id").join(
        clusters.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    ).select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )
    return dedup_report(decisions, d).orderBy("source")


ORACLE_DEDUP_REPORT = f"""
WITH RECURSIVE {{shingles}},
{{cands}}, verified AS (
  SELECT c.id_a, c.id_b
  FROM cands c
  JOIN sets sa ON sa.doc_id = c.id_a
  JOIN sets sb ON sb.doc_id = c.id_b
  WHERE CAST(len(list_intersect(sa.ls, sb.ls)) AS DOUBLE)
        / (len(sa.ls) + len(sb.ls) - len(list_intersect(sa.ls, sb.ls)))
        >= 0.8
), edges AS (
  SELECT id_a AS s, id_b AS d FROM verified
  UNION
  SELECT id_b AS s, id_a AS d FROM verified
), reach AS (
  SELECT s AS id, s AS r FROM edges
  UNION
  SELECT e.s AS id, reach.r AS r
  FROM edges e JOIN reach ON e.d = reach.id
), clusters AS (
  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
), decisions AS (
  SELECT d.doc_id, d.source,
         CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
         d.doc_id = coalesce(c.cluster_id, d.doc_id) AS keep
  FROM documents d
  LEFT JOIN clusters c ON c.id = d.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       round(CAST(count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS dup_rate,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
FROM decisions
GROUP BY source
ORDER BY source
""".format(shingles=_SQL_SHINGLES, cands=_SQL_CANDS)


# =====================================================================
# Line-level document cleaning (C4/RefinedWeb rules), subword encoding,
# temperature sampling and text normalization.
# =====================================================================


# ---------------------------------------------------------------------
# Line-level cleaning (operators/linefilter.py) — the synthetic docs
# are single-line word soup, so the query first wraps them into 7-word
# pseudo-lines with ONE portable regexp_replace (both engines consume
# matches non-overlapping left-to-right) and uppercases every 5th doc
# to light up the mainly-uppercase rule; 'customer' is a vocab word so
# the phrase rule discriminates.  The operator itself is a pure
# scan-stage projection (plan-pinned zero-Exchange in tests).
# ---------------------------------------------------------------------

_WRAP_PAT = r"((?:\S+ ){6}\S+) "


def q_line_filter(spark, sf_dir):
    """Per-document line-cleaning report: line census, cleaned-text
    hash, removed-character share, doc keep with first-fail reason."""
    from grass_spark.operators.linefilter import LineRules, line_filter

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    wrapped = F.regexp_replace(norm, _WRAP_PAT, "$1\n")
    text2 = F.when(F.col("doc_id") % 5 == 0, F.upper(wrapped)).otherwise(
        wrapped
    )
    rules = LineRules(
        min_line_words=4,
        require_terminal_punct=False,
        drop_phrases=("customer",),
        min_kept_lines=3,
        max_removed_frac=0.35,
    )
    out = line_filter(d.select("doc_id", text2.alias("text")), rules)
    return out.select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        F.round("removed_char_frac", 6).alias("removed_char_frac"),
        "reject_reason",
        "keep",
        F.md5("clean_text").alias("clean_md5"),
    ).orderBy("doc_id")


ORACLE_LINE_FILTER = f"""
WITH t AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
           '{_WRAP_PAT}', '\\1' || chr(10), 'g') AS wrapped
  FROM documents
), t2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN upper(wrapped)
              ELSE wrapped END AS text
  FROM t
), k AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines,
         list_filter(string_split(text, chr(10)), ln ->
           len(list_filter(regexp_split_to_array(ln, '\\s+'),
                           w -> w <> '')) >= 4
           AND NOT contains(lower(ln), 'customer')
           AND (len(regexp_replace(ln, '[^A-Za-z]', '', 'g')) = 0 OR
                CAST(len(regexp_replace(ln, '[^A-Z]', '', 'g')) AS DOUBLE)
                  / len(regexp_replace(ln, '[^A-Za-z]', '', 'g')) <= 0.6)
           AND CAST(len(regexp_replace(ln, '[^0-9]', '', 'g')) AS DOUBLE)
                 / greatest(len(ln), 1) <= 0.5
         ) AS kept
  FROM t2
), m AS (
  SELECT doc_id, text,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(kept) AS BIGINT) AS n_kept_lines,
         -- DuckDB array_to_string([]) is NULL where Spark's is ''
         coalesce(array_to_string(kept, chr(10)), '') AS clean
  FROM k
), g AS (
  SELECT *,
         CAST(len(text) - len(clean) AS DOUBLE) / greatest(len(text), 1)
           AS rf,
         CASE WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
              WHEN contains(text, '{{') THEN 'curly_brace'
              WHEN n_kept_lines < 3 THEN 'too_few_lines'
              WHEN CAST(len(text) - len(clean) AS DOUBLE)
                     / greatest(len(text), 1) > 0.35 THEN 'removed_frac'
              ELSE 'keep' END AS reject_reason
  FROM m
)
SELECT doc_id, n_lines, n_kept_lines,
       round(rf, 6) AS removed_char_frac,
       reject_reason,
       reject_reason = 'keep' AS keep,
       md5(clean) AS clean_md5
FROM g ORDER BY doc_id
"""


# ---------------------------------------------------------------------
# Subword encode (operators/textstats.py subword_encode) — the token-ID
# sequence a trainer consumes.  Ids are canonical-vocab positions (the
# same length-desc order that makes the regex greedy), OOV chars map to
# len(vocab)+codepoint; both engines replay the identical pattern and
# id assignment, so the md5 of the id sequence hash-gates the whole
# encode path bit-for-bit.
# ---------------------------------------------------------------------


def q_subword_encode(spark, sf_dir):
    """Per document: token count, id-sequence md5, and the first/last
    token ids (spot-checkable without a wide row)."""
    from grass_spark.operators.textstats import subword_encode

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = subword_encode(d)
    ids = F.col("token_ids")
    return out.select(
        "doc_id",
        "n_tokens",
        F.element_at(ids, 1).alias("first_id"),
        F.element_at(ids, -1).alias("last_id"),
        F.md5(F.array_join(ids.cast("array<string>"), ",")).alias("ids_md5"),
    ).orderBy("doc_id")


def _subword_encode_oracle() -> str:
    from grass_spark.operators.textstats import (
        DEFAULT_SUBWORDS,
        canonical_vocab,
        greedy_vocab_pattern,
    )

    pat = greedy_vocab_pattern(DEFAULT_SUBWORDS)
    vocab = canonical_vocab(DEFAULT_SUBWORDS)
    vlit = "[" + ",".join(f"'{p}'" for p in vocab) + "]"
    return f"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
           '{pat}') AS pieces
  FROM documents
), ids AS (
  SELECT doc_id,
         list_transform(pieces, p ->
           CASE WHEN list_position({vlit}, p) > 0
                THEN list_position({vlit}, p) - 1
                ELSE ascii(p) + {len(vocab)} END) AS ids
  FROM t
)
SELECT doc_id,
       CAST(len(ids) AS BIGINT) AS n_tokens,
       CAST(ids[1] AS INT) AS first_id,
       CAST(ids[-1] AS INT) AS last_id,
       md5(coalesce(array_to_string(ids, ','), '')) AS ids_md5
FROM ids ORDER BY doc_id
"""


# ---------------------------------------------------------------------
# Temperature mixture sampling (operators/sampling.py
# temperature_rates) — share_g ∝ tokens_g^alpha, the XLM-R/mT5
# multilingual rule.  pow is libm so the share rounds to 6 dp before
# the rate arithmetic; the md5 draw after that is exact in both
# engines, so the SAMPLE ITSELF is the gated artifact.
# ---------------------------------------------------------------------

_TEMP_ALPHA, _TEMP_BUDGET = 0.3, 25000


def q_temperature_sample(spark, sf_dir):
    """End-to-end temperature-flattened sampling (alpha=0.3, char
    budget 25k, weights = n_chars): the kept (doc_id, lang) set."""
    from grass_spark.operators.sampling import hash_sample, temperature_rates

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    rates = temperature_rates(
        d, _TEMP_ALPHA, _TEMP_BUDGET, weight_col="n_chars"
    )
    return hash_sample(d, rates, salt="temp1").select(
        "doc_id", "lang"
    ).orderBy("doc_id")


ORACLE_TEMPERATURE_SAMPLE = f"""
WITH g AS (
  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS tokens,
         pow(CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE), {_TEMP_ALPHA})
           AS p
  FROM documents GROUP BY lang
), t AS (SELECT sum(p) AS tp FROM g),
r AS (
  SELECT lang,
         least(1.0, round(p / tp, 6) * {_TEMP_BUDGET} / tokens)
           AS keep_rate
  FROM g CROSS JOIN t
)
SELECT d.doc_id, d.lang
FROM documents d JOIN r USING (lang)
WHERE CAST(('0x' || substr(md5(d.doc_id || ':temp1'), 1, 8)) AS UBIGINT)
      / 4294967296.0 < r.keep_rate
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------
# Text normalization (operators/textstats.py normalize_text) — the
# canonical pre-dedup cleanup.  The synthetic docs are plain ASCII, so
# the query first INJECTS the typographic zoo (curly quotes, em dash,
# NBSP, ellipsis, a control char, doubled spaces) as a literal suffix
# — identical bytes in both engines — then hash-gates the normalized
# result.
# ---------------------------------------------------------------------

_NORM_SUFFIX = "  “Quoted” — ‘stressed’… END\x07 tail   spaces"


def q_normalize_text(spark, sf_dir):
    """md5 of the normalized (text + typographic-zoo suffix), plus the
    char delta the cleanup removed."""
    from grass_spark.operators.textstats import normalize_text

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    messy = d.select(
        "doc_id", F.concat(F.col("text"), F.lit(_NORM_SUFFIX)).alias("text")
    )
    out = normalize_text(messy)
    return out.select(
        "doc_id",
        F.length("text").alias("n_raw_chars"),
        F.length("norm_text").alias("n_norm_chars"),
        F.md5("norm_text").alias("norm_md5"),
    ).orderBy("doc_id")


ORACLE_NORMALIZE_TEXT = """
WITH messy AS (
  SELECT doc_id,
         text || '  “Quoted” — ‘stressed’…' || chr(160) || 'END'
              || chr(7) || ' tail   spaces' AS text
  FROM documents
), norm AS (
  SELECT doc_id, text,
    lower(trim(regexp_replace(
      regexp_replace(
        replace(replace(replace(replace(replace(replace(replace(replace(
          replace(text, '“', '"'), '”', '"'), '„', '"'),
          '‘', chr(39)), '’', chr(39)), '–', '-'), '—', '-'),
          '…', '...'), chr(160), ' '),
        '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
      '\\s+', ' ', 'g'))) AS norm_text
  FROM messy
)
SELECT doc_id,
       CAST(len(text) AS INT) AS n_raw_chars,
       CAST(len(norm_text) AS INT) AS n_norm_chars,
       md5(norm_text) AS norm_md5
FROM norm ORDER BY doc_id
"""


# =====================================================================
# SFT training-example assembly over transcript turns (operators/sft.py)
# and the trigram stupid-backoff LM (operators/lm.py).
#
# The transcript turns frame is derived deterministically from the
# ``events`` table with engine-portable expressions (row_number turn
# index, CASE role mapping, ``event_type || ' ' || props`` text) so the
# DuckDB oracle can rebuild the identical lattice.
# =====================================================================


_ROLE = (
    "CASE WHEN event_type IN ('click', 'view') THEN 'user' "
    "WHEN event_type IN ('purchase', 'signup') THEN 'assistant' "
    "ELSE 'tool' END"
)


def _turns(spark, sf_dir, *, corrupt: bool = False, order_by_event: bool = False):
    """Deterministic transcript turns from events (both-engine lattice).

    ``corrupt=True`` injects the malformations transcript_lint hunts:
    empty text every 97th event, a 1-hour timestamp rollback every
    101st, and (by the caller dropping every 113th row AFTER indexing)
    turn_idx gaps.
    """
    ev = _t(spark, sf_dir, "events")
    order = ["event_id"] if order_by_event else ["ts", "event_id"]
    w = Window.partitionBy("user_id").orderBy(*order)
    text = F.concat_ws(" ", F.col("event_type"), F.col("props"))
    ts = F.col("ts")
    if corrupt:
        text = F.when(F.col("event_id") % 97 == 0, F.lit("")).otherwise(text)
        ts = F.when(
            F.col("event_id") % 101 == 0,
            F.col("ts") - F.expr("INTERVAL 1 HOUR"),
        ).otherwise(F.col("ts"))
    return ev.select(
        F.col("user_id").alias("conv_id"),
        (F.row_number().over(w) - 1).alias("turn_idx"),
        F.expr(_ROLE).alias("role"),
        text.alias("text"),
        ts.alias("ts"),
        "event_id",
    )


_ORACLE_TURNS = """
  SELECT user_id AS conv_id,
         row_number() OVER (PARTITION BY user_id ORDER BY {order})
           - 1 AS turn_idx,
         {role} AS role,
         {text} AS text,
         {ts} AS ts,
         event_id
  FROM events
""".format
_PLAIN_TEXT = "event_type || ' ' || props"
_CORRUPT_TEXT = (
    "CASE WHEN event_id % 97 = 0 THEN '' ELSE event_type || ' ' || props END"
)
_CORRUPT_TS = (
    "CASE WHEN event_id % 101 = 0 THEN ts - INTERVAL 1 HOUR ELSE ts END"
)


# ---------------------------------------------------------------------
# SFT example assembly (operators/sft.py sft_examples) — render each
# conversation to one training document + assistant loss-mask spans.
# ---------------------------------------------------------------------


def q_sft_examples(spark, sf_dir):
    """One training example per conversation: rendered text (md5-gated),
    turn count, masked-char count, canonical "s-e,..." span string for
    the assistant turns."""
    from grass_spark.operators.sft import sft_examples

    t = _turns(spark, sf_dir)
    out = sft_examples(t, mask_roles=("assistant",))
    return out.select(
        "conv_id",
        F.md5("text").alias("text_md5"),
        "n_turns",
        "n_mask_chars",
        "mask_spans",
    )


ORACLE_SFT_EXAMPLES = f"""
WITH t AS ({_ORACLE_TURNS(order="ts, event_id", role=_ROLE, text=_PLAIN_TEXT, ts="ts")}),
p AS (
  SELECT conv_id, turn_idx, role, text,
         role || ': ' || text || chr(10) AS piece
  FROM t
), o AS (
  SELECT *,
         sum(len(piece)) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS cend
  FROM p
)
SELECT conv_id,
       md5(string_agg(piece, '' ORDER BY turn_idx)) AS text_md5,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(coalesce(sum(len(text)) FILTER (WHERE role = 'assistant'), 0)
            AS BIGINT) AS n_mask_chars,
       coalesce(string_agg(
           CAST(cend - len(piece) + len(role) + 2 AS VARCHAR) || '-' ||
           CAST(cend - len(piece) + len(role) + 2 + len(text) AS VARCHAR),
           ',' ORDER BY turn_idx) FILTER (WHERE role = 'assistant'),
         '') AS mask_spans
FROM o GROUP BY conv_id
"""


# ---------------------------------------------------------------------
# Context-window tail truncation (operators/sft.py context_tail).
# ---------------------------------------------------------------------

_TAIL_BUDGET = 30


def q_context_tail(spark, sf_dir):
    """Maximal turn suffix per conversation within a 30-token budget
    (whitespace tokens; empty turns injected so 0-token rows appear)."""
    from grass_spark.operators.sft import context_tail

    t = _turns(spark, sf_dir, corrupt=True)
    out = context_tail(t, _TAIL_BUDGET)
    return out.select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        "n_tokens", "cum_from_end",
    )


ORACLE_CONTEXT_TAIL = f"""
WITH t AS ({_ORACLE_TURNS(order="ts, event_id", role=_ROLE, text=_CORRUPT_TEXT, ts="ts")}),
k AS (
  SELECT conv_id, turn_idx,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(str_split_regex(trim(text), '\\s+')) END AS n_tokens
  FROM t
), c AS (
  SELECT conv_id, turn_idx, n_tokens,
         sum(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC)
           AS cum,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx DESC)
           AS rn
  FROM k
)
SELECT conv_id, turn_idx, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum AS BIGINT) AS cum_from_end
FROM c WHERE cum <= {_TAIL_BUDGET} OR rn = 1
"""


# ---------------------------------------------------------------------
# Transcript structural lint (operators/sft.py transcript_lint).
# ---------------------------------------------------------------------


def q_transcript_lint(spark, sf_dir):
    """Per-conversation hygiene report over a corrupted lattice: role
    repeats, timestamp rollbacks, empty turns, turn_idx gaps (every
    113th event dropped AFTER indexing), first-fail reject reason."""
    from grass_spark.operators.sft import transcript_lint

    t = _turns(spark, sf_dir, corrupt=True, order_by_event=True)
    t = t.filter(F.col("event_id") % 113 != 0)
    out = transcript_lint(t, first_role="user")
    return out.select(
        "conv_id", "n_turns", "n_role_repeats", "n_ts_regressions",
        "n_empty_turns", "first_role", "idx_contiguous",
        "reject_reason", "keep",
    )


ORACLE_TRANSCRIPT_LINT = f"""
WITH base AS ({_ORACLE_TURNS(order="event_id", role=_ROLE, text=_CORRUPT_TEXT, ts=_CORRUPT_TS)}),
t AS (SELECT * FROM base WHERE event_id % 113 <> 0),
l AS (
  SELECT conv_id, turn_idx, role, ts,
         CASE WHEN trim(text) = '' THEN 1 ELSE 0 END AS emp,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
         lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_ts,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
  FROM t
), a AS (
  SELECT conv_id,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(coalesce(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_role_repeats,
         CAST(coalesce(sum(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_ts_regressions,
         CAST(sum(emp) AS BIGINT) AS n_empty_turns,
         min(turn_idx) AS mi, max(turn_idx) AS ma,
         count(DISTINCT turn_idx) AS nd,
         max(CASE WHEN rn = 1 THEN role END) AS first_role
  FROM l GROUP BY conv_id
), f AS (
  SELECT *, (mi = 0 AND ma = n_turns - 1 AND nd = n_turns)
              AS idx_contiguous
  FROM a
)
SELECT conv_id, n_turns, n_role_repeats, n_ts_regressions, n_empty_turns,
       first_role, idx_contiguous,
       CASE WHEN NOT idx_contiguous THEN 'idx_gap'
            WHEN first_role <> 'user' THEN 'first_role'
            WHEN n_role_repeats > 0 THEN 'role_repeat'
            WHEN n_ts_regressions > 0 THEN 'ts_regression'
            WHEN n_empty_turns > 0 THEN 'empty_turn'
       END AS reject_reason,
       (CASE WHEN NOT idx_contiguous THEN 'idx_gap'
             WHEN first_role <> 'user' THEN 'first_role'
             WHEN n_role_repeats > 0 THEN 'role_repeat'
             WHEN n_ts_regressions > 0 THEN 'ts_regression'
             WHEN n_empty_turns > 0 THEN 'empty_turn'
        END) IS NULL AS keep
FROM f
"""


# ---------------------------------------------------------------------
# Trigram stupid backoff (operators/lm.py stupid_backoff_score) —
# Brants et al. 2007's web-scale n-gram score, self-scored.
# ---------------------------------------------------------------------


def q_sb_perplexity(spark, sf_dir):
    """Per-doc mean -log2 stupid-backoff trigram score against the
    corpus's own counts; 5 equi-joins + one groupBy(doc), no window."""
    from grass_spark.operators.lm import stupid_backoff_score

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = stupid_backoff_score(d)
    return out.select(
        "doc_id", "n_trigrams",
        F.round("sb_logscore", 6).alias("sb_logscore"),
        F.round("sb_perplexity", 6).alias("sb_perplexity"),
    )


ORACLE_SB_PERPLEXITY = """
WITH w AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                      ' ') AS ws
  FROM documents WHERE trim(text) <> ''
), uni AS (
  SELECT wrd AS w, count(*) AS c1
  FROM (SELECT unnest(ws) AS wrd FROM w) GROUP BY 1
), pos2 AS (
  SELECT ws[g.i] AS w1, ws[g.i + 1] AS w2
  FROM w, unnest(generate_series(1, len(ws) - 1)) AS g(i)
  WHERE len(ws) >= 2
), big AS (
  SELECT w1, w2, count(*) AS c12 FROM pos2 GROUP BY 1, 2
), pos3 AS (
  SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2, ws[g.i + 2] AS w3
  FROM w, unnest(generate_series(1, len(ws) - 2)) AS g(i)
  WHERE len(ws) >= 3
), tri AS (
  SELECT w1, w2, w3, count(*) AS c123 FROM pos3 GROUP BY 1, 2, 3
), tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS n
  FROM (SELECT unnest(ws) FROM w)
), sc AS (
  SELECT p.doc_id,
         -log2(CAST(CASE
            WHEN t.c123 IS NOT NULL
              THEN CAST(t.c123 AS DOUBLE) / b12.c12
            WHEN b23.c23 IS NOT NULL
              THEN CAST(0.4 AS DOUBLE) * b23.c23 / u2.c2
            ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
                 * coalesce(u3.c3, 0) / tot.n
          END AS DOUBLE)) AS nls
  FROM pos3 p
  LEFT JOIN tri t USING (w1, w2, w3)
  LEFT JOIN big b12 USING (w1, w2)
  LEFT JOIN (SELECT w1 AS w2, w2 AS w3, c12 AS c23 FROM big) b23
    USING (w2, w3)
  LEFT JOIN (SELECT w AS w2, c1 AS c2 FROM uni) u2 USING (w2)
  LEFT JOIN (SELECT w AS w3, c1 AS c3 FROM uni) u3 USING (w3)
  CROSS JOIN tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       round(avg(nls), 6) AS sb_logscore,
       round(pow(2.0, avg(nls)), 6) AS sb_perplexity
FROM sc GROUP BY doc_id
"""


# ---------------------------------------------------------------------
# SFT JSONL serialization (operators/sft.py sft_jsonl_lines) — gates
# the JSON escape/format parity of the training-shard line format.
# ---------------------------------------------------------------------


def q_sft_jsonl(spark, sf_dir):
    """One JSONL training line per conversation (conv_id, rendered
    text, mask metadata); md5-gated so the exact byte format — compact
    separators, \\n and quote escapes — matches the oracle."""
    from grass_spark.operators.sft import sft_examples, sft_jsonl_lines

    t = _turns(spark, sf_dir)
    ex = sft_examples(t, mask_roles=("assistant",))
    out = sft_jsonl_lines(ex)
    return out.select(
        "conv_id",
        F.length("line").alias("n_line_chars"),
        F.md5("line").alias("line_md5"),
    )


ORACLE_SFT_JSONL = f"""
WITH t AS ({_ORACLE_TURNS(order="ts, event_id", role=_ROLE, text=_PLAIN_TEXT, ts="ts")}),
p AS (
  SELECT conv_id, turn_idx, role, text,
         role || ': ' || text || chr(10) AS piece
  FROM t
), o AS (
  SELECT *,
         sum(len(piece)) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS cend
  FROM p
), ex AS (
  SELECT conv_id,
         string_agg(piece, '' ORDER BY turn_idx) AS text,
         CAST(coalesce(sum(len(text)) FILTER (WHERE role = 'assistant'), 0)
              AS BIGINT) AS n_mask_chars,
         coalesce(string_agg(
             CAST(cend - len(piece) + len(role) + 2 AS VARCHAR) || '-' ||
             CAST(cend - len(piece) + len(role) + 2 + len(text) AS VARCHAR),
             ',' ORDER BY turn_idx) FILTER (WHERE role = 'assistant'),
           '') AS mask_spans
  FROM o GROUP BY conv_id
), lines AS (
  SELECT conv_id,
         to_json(struct_pack(
           conv_id := conv_id, text := text,
           n_mask_chars := n_mask_chars, mask_spans := mask_spans
         )) AS line
  FROM ex
)
SELECT conv_id, CAST(len(line) AS INT) AS n_line_chars,
       md5(line) AS line_md5
FROM lines
"""


# =====================================================================
# Preference-pair assembly and epoch upsampling
# (operators/preference.py).
#
# Both derive deterministic inputs from the ``documents`` table with
# engine-portable expressions (md5-bucket prompt ids, md5-uniform
# scores) so the DuckDB oracle rebuilds the identical lattice.
# =====================================================================


# portable md5-uniform in both engines (see operators/sampling.py)
_DUCK_HASH = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || '{salt}'),"
    " 1, 8) AS UBIGINT)"
)


# ---------------------------------------------------------------------
# preference pairs — best-of-N election per md5-bucketed prompt
# ---------------------------------------------------------------------

def _scored_completions(spark, sf_dir):
    """documents as scored completions: 64 md5-bucket prompts, an
    md5-uniform score — deterministic and DuckDB-replayable."""
    docs = _t(spark, sf_dir, "documents")
    prompt = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.lit("prompt"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 64
    )
    return docs.select(
        prompt.alias("prompt_id"),
        "doc_id",
        "text",
        uniform_hash(F.col("doc_id"), "score").alias("score"),
    )


def q_preference_pairs(spark, sf_dir):
    pairs = preference_pairs(
        _scored_completions(spark, sf_dir),
        prompt_col="prompt_id",
        id_col="doc_id",
        text_col="text",
        score_col="score",
        min_margin=0.05,
    )
    return pairs.orderBy("prompt_id")


ORACLE_PREFERENCE_PAIRS = f"""
WITH s AS (
  SELECT CAST({_DUCK_HASH.format(salt='prompt')} % 64 AS BIGINT) AS prompt_id,
         doc_id, text,
         round({_DUCK_HASH.format(salt='score')} / 4294967296.0, 6) AS s
  FROM documents
),
ranked AS (
  SELECT prompt_id, doc_id, text, s,
         row_number() OVER (PARTITION BY prompt_id
                            ORDER BY s DESC, doc_id DESC) AS rc,
         row_number() OVER (PARTITION BY prompt_id
                            ORDER BY s ASC, doc_id ASC) AS rr,
         count(*) OVER (PARTITION BY prompt_id) AS n
  FROM s
)
SELECT c.prompt_id,
       c.doc_id AS chosen_id, c.text AS chosen_text,
       r.doc_id AS rejected_id, r.text AS rejected_text,
       round(c.s - r.s, 6) AS margin,
       c.n AS n_completions
FROM ranked c
JOIN ranked r ON c.prompt_id = r.prompt_id AND r.rr = 1
WHERE c.rc = 1 AND c.n >= 2 AND round(c.s - r.s, 6) >= 0.05
ORDER BY c.prompt_id
"""


# ---------------------------------------------------------------------
# epoch upsampling — mixture weights above 1 (LLaMA-style repeats)
# ---------------------------------------------------------------------

_EPOCH_WEIGHTS = {"src0": 2.5, "src1": 1.75, "src2": 1.0, "src3": 0.4, "src4": 0.0}


def q_upsample_epochs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = upsample_epochs(
        docs,
        _EPOCH_WEIGHTS,
        group_col="source",
        id_col="doc_id",
        default_weight=1.0,
        salt="epoch",
    )
    return out.select(
        "doc_id", "source", F.col("epoch").cast("int").alias("epoch")
    ).orderBy("doc_id", "epoch")


ORACLE_UPSAMPLE_EPOCHS = f"""
WITH w(source, wt) AS (
  VALUES ('src0', 2.5), ('src1', 1.75), ('src2', 1.0),
         ('src3', 0.4), ('src4', 0.0)
),
j AS (
  SELECT d.doc_id, d.source,
         round(CAST(coalesce(w.wt, 1.0) AS DOUBLE), 6) AS wt,
         {_DUCK_HASH.format(salt='epoch')} / 4294967296.0 AS h
  FROM documents d LEFT JOIN w ON d.source = w.source
),
fan AS (
  SELECT doc_id, source, wt, h,
         unnest(generate_series(0, CAST(ceil(wt) AS BIGINT) - 1)) AS epoch
  FROM j
)
SELECT doc_id, source, CAST(epoch AS INTEGER) AS epoch
FROM fan
WHERE epoch < floor(wt) OR h < round(wt - floor(wt), 6)
ORDER BY doc_id, epoch
"""


# ---------------------------------------------------------------------
# length-bucketed batches — the padding dataloader's packing twin
# ---------------------------------------------------------------------

def q_length_batches(spark, sf_dir):
    from grass_spark.operators.pack import length_batches

    docs = _t(spark, sf_dir, "documents")
    out = length_batches(
        docs.select("source", "doc_id", "n_chars"),
        8,
        group_col="source",
        id_col="doc_id",
        tokens_col="n_chars",
    )
    return out.select(
        "source", "doc_id", "batch_idx", "padded_to", "pad_waste"
    ).orderBy("source", "batch_idx", "doc_id")


ORACLE_LENGTH_BATCHES = """
WITH b AS (
  SELECT source, doc_id, n_chars,
         CAST(floor((row_number() OVER (PARTITION BY source
                                        ORDER BY n_chars, doc_id) - 1)
                    / 8) AS BIGINT) AS batch_idx
  FROM documents
)
SELECT source, doc_id, batch_idx,
       max(n_chars) OVER (PARTITION BY source, batch_idx) AS padded_to,
       max(n_chars) OVER (PARTITION BY source, batch_idx) - n_chars
         AS pad_waste
FROM b
ORDER BY source, batch_idx, doc_id
"""


# ---------------------------------------------------------------------
# DPO JSONL lines — preference pairs through the shard-line serializer
# (gates the byte format end-to-end: escapes, compact separators)
# ---------------------------------------------------------------------

def q_dpo_jsonl(spark, sf_dir):
    from grass_spark.operators.sft import sft_jsonl_lines

    pairs = preference_pairs(
        _scored_completions(spark, sf_dir),
        prompt_col="prompt_id",
        id_col="doc_id",
        text_col="text",
        score_col="score",
        min_margin=0.05,
    )
    out = sft_jsonl_lines(
        pairs, conv_col="prompt_id", fields=("chosen_text", "rejected_text")
    )
    return out.select(
        "prompt_id",
        F.length("line").alias("n_line_chars"),
        F.md5("line").alias("line_md5"),
    ).orderBy("prompt_id")


_ORACLE_PAIRS_CTE = f"""
s AS (
  SELECT CAST({_DUCK_HASH.format(salt='prompt')} % 64 AS BIGINT) AS prompt_id,
         doc_id, text,
         round({_DUCK_HASH.format(salt='score')} / 4294967296.0, 6) AS s
  FROM documents
),
ranked AS (
  SELECT prompt_id, doc_id, text, s,
         row_number() OVER (PARTITION BY prompt_id
                            ORDER BY s DESC, doc_id DESC) AS rc,
         row_number() OVER (PARTITION BY prompt_id
                            ORDER BY s ASC, doc_id ASC) AS rr,
         count(*) OVER (PARTITION BY prompt_id) AS n
  FROM s
),
pairs AS (
  SELECT c.prompt_id,
         c.text AS chosen_text, r.text AS rejected_text
  FROM ranked c
  JOIN ranked r ON c.prompt_id = r.prompt_id AND r.rr = 1
  WHERE c.rc = 1 AND c.n >= 2 AND round(c.s - r.s, 6) >= 0.05
)
"""

ORACLE_DPO_JSONL = f"""
WITH {_ORACLE_PAIRS_CTE},
lines AS (
  SELECT prompt_id,
         to_json(struct_pack(
           prompt_id := prompt_id,
           chosen_text := chosen_text,
           rejected_text := rejected_text
         )) AS line
  FROM pairs
)
SELECT prompt_id, CAST(len(line) AS INT) AS n_line_chars,
       md5(line) AS line_md5
FROM lines
ORDER BY prompt_id
"""


# =====================================================================
# Rejection sampling (skew-safe best-of-N top-k, operators/caps.py) and
# the word-boundary blocklist gate (operators/blocklist.py).
# =====================================================================


# ---------------------------------------------------------------------
# rejection sampling — top-3 scored completions per prompt, skew-safe
# ---------------------------------------------------------------------

def q_rejection_sample(spark, sf_dir):
    kept = top_per_group(
        _scored_completions(spark, sf_dir),
        3,
        score_col="score",
        group_col="prompt_id",
        id_col="doc_id",
        salts=4,
    )
    return kept.select(
        "prompt_id", "doc_id", F.round("score", 6).alias("score")
    ).orderBy("prompt_id", "doc_id")


ORACLE_REJECTION_SAMPLE = f"""
WITH s AS (
  SELECT CAST({_DUCK_HASH.format(salt='prompt')} % 64 AS BIGINT) AS prompt_id,
         doc_id,
         round({_DUCK_HASH.format(salt='score')} / 4294967296.0, 6) AS score
  FROM documents
),
ranked AS (
  SELECT prompt_id, doc_id, score,
         row_number() OVER (PARTITION BY prompt_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM s
)
SELECT prompt_id, doc_id, score
FROM ranked WHERE rn <= 3
ORDER BY prompt_id, doc_id
"""


# ---------------------------------------------------------------------
# blocklist gate — word-boundary term counting, C4 badword-list analog
# ---------------------------------------------------------------------

#: multi-word phrase first (greedy longest-alternative), plus single
#: words present in the synthetic vocab so hits actually vary
_BLOCK_TERMS = ("fast table", "merge", "spark")

_BLOCK_PATTERN = blocklist_pattern(_BLOCK_TERMS)


def q_blocklist_flags(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = blocklist_stats(docs, _BLOCK_TERMS, text_col="text", max_hits=2)
    return out.select(
        "doc_id", "n_blocked", "blocked_frac", "keep"
    ).orderBy("doc_id")


ORACLE_BLOCKLIST_FLAGS = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '{_BLOCK_PATTERN}'))
            AS BIGINT) AS n_blocked,
       round(CAST(len(regexp_extract_all(lower(text), '{_BLOCK_PATTERN}'))
                  AS DOUBLE)
             / greatest(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                        x -> x <> '')), 1),
             6) AS blocked_frac,
       len(regexp_extract_all(lower(text), '{_BLOCK_PATTERN}')) <= 2 AS keep
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------------------------------
# shard manifest — order-independent per-shard integrity fingerprints
# ---------------------------------------------------------------------

def q_shard_manifest(spark, sf_dir):
    from grass_spark.operators.export import shard_manifest

    docs = _t(spark, sf_dir, "documents")
    out = shard_manifest(docs, 8, tokens_col="n_chars")
    return out.orderBy("shard_id")


ORACLE_SHARD_MANIFEST = f"""
WITH staged AS (
  SELECT doc_id, text, n_chars,
         CAST(floor({_DUCK_HASH.format(salt='export')} / 4294967296.0 * 8)
              AS INTEGER) AS shard_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || md5(text)),
                             1, 8) AS UBIGINT) AS fp
  FROM documents
)
SELECT shard_id,
       count(*) AS n_docs,
       CAST(sum(len(text)) AS BIGINT) AS n_chars,
       CAST(sum(n_chars) AS BIGINT) AS n_tokens,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id,
       CAST(sum(fp) AS BIGINT) AS fingerprint
FROM staged
GROUP BY shard_id
ORDER BY shard_id
"""


# ---------------------------------------------------------------------
# source overlap — pairwise 5-gram Jaccard between document sources
# ---------------------------------------------------------------------

_OVERLAP_N = 5


def q_source_overlap(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return source_overlap(docs, n=_OVERLAP_N)


ORACLE_SOURCE_OVERLAP = f"""
WITH nrm AS (
  SELECT source,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents
),
w AS (SELECT source, string_split(t, ' ') AS ws FROM nrm),
sh AS (
  SELECT DISTINCT source,
         array_to_string(ws[g.i:g.i+{_OVERLAP_N - 1}], ' ') AS s
  FROM w, unnest(generate_series(1,
         greatest(len(ws) - {_OVERLAP_N - 1}, 1))) AS g(i)
),
sz AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b,
       sa.sz AS shingles_a, sb.sz AS shingles_b, i.common,
       round(CAST(i.common AS DOUBLE)
             / CAST(sa.sz + sb.sz - i.common AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sz sa ON i.source_a = sa.source
JOIN sz sb ON i.source_b = sb.source
ORDER BY i.source_a, i.source_b
"""


# =====================================================================
# Text metrics & drift — Flesch readability, per-source lexical
# diversity (operators/textstats.py) and the exact two-sample KS drift
# gate (operators/divergence.py) over the ``documents`` table.
# =====================================================================


# ---------------------------------------------------------------------
# readability — Flesch reading ease / FK grade per document
# ---------------------------------------------------------------------


def q_readability(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return readability(docs).orderBy("doc_id")


ORACLE_READABILITY = """
WITH nrm AS (
  SELECT doc_id, text,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents
),
w AS (SELECT doc_id, text, string_split(t, ' ') AS ws FROM nrm),
c AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
              AS BIGINT) AS n_sentences,
         CAST(list_sum(list_transform(ws, w ->
              greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)))
              AS BIGINT) AS n_syllables
  FROM w
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(CAST(206.835 AS DOUBLE)
             - CAST(1.015 AS DOUBLE)
               * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
             - CAST(84.6 AS DOUBLE)
               * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
             6) AS flesch,
       round(CAST(0.39 AS DOUBLE)
             * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
             + CAST(11.8 AS DOUBLE)
               * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
             - CAST(15.59 AS DOUBLE), 6) AS fk_grade
FROM c ORDER BY doc_id
"""


# ---------------------------------------------------------------------
# lexical diversity — TTR / hapax share per source
# ---------------------------------------------------------------------


def q_lexical_diversity(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return lexical_diversity(docs)


ORACLE_LEXICAL_DIVERSITY = """
WITH words AS (
  SELECT source, unnest(string_split(
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
  FROM documents
),
census AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS f FROM words GROUP BY 1, 2
)
SELECT source,
       CAST(sum(f) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(CAST(count(*) AS DOUBLE) / CAST(sum(f) AS DOUBLE), 6) AS ttr,
       round(CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS hapax_share
FROM census GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------
# length drift — exact two-sample KS over n_chars (even vs odd docs)
# ---------------------------------------------------------------------


def q_length_drift(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0).select("n_chars")
    b = docs.where(F.col("doc_id") % 2 == 1).select("n_chars")
    return ks_test(a, b, value_col="n_chars")


ORACLE_LENGTH_DRIFT = """
WITH ha AS (SELECT n_chars AS v FROM documents WHERE doc_id % 2 = 0),
hb AS (SELECT n_chars AS v FROM documents WHERE doc_id % 2 = 1),
ca AS (SELECT v, CAST(count(*) AS BIGINT) AS ca FROM ha GROUP BY v),
cb AS (SELECT v, CAST(count(*) AS BIGINT) AS cb FROM hb GROUP BY v),
j AS (
  SELECT v, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
  FROM ca FULL OUTER JOIN cb USING (v)
),
staged AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
         sum(cb) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
         sum(ca) OVER () AS na,
         sum(cb) OVER () AS nb
  FROM j
),
nums AS (
  SELECT v, abs(CAST(cuma AS HUGEINT) * nb
                - CAST(cumb AS HUGEINT) * na) AS num, na, nb
  FROM staged
),
agg AS (
  SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
         max(num) AS mx
  FROM nums
)
SELECT a.n_a, a.n_b,
       round(CAST(a.mx AS DOUBLE)
             / (CAST(a.n_a AS DOUBLE) * CAST(a.n_b AS DOUBLE)), 6)
         AS ks_stat,
       (SELECT min(v) FROM nums, agg WHERE nums.num = agg.mx) AS ks_at
FROM agg a
"""


# ---------------------------------------------------------------------
# PMI collocations — top-20 adjacent pairs seen >= 5 times
# ---------------------------------------------------------------------


def q_pmi_collocations(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("text")
    return pmi_collocations(docs, min_count=5, top_k=20)


ORACLE_PMI = """
WITH ws AS (
  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w
  FROM documents
),
uc AS (
  SELECT word, count(*) AS cw
  FROM (SELECT unnest(w) AS word FROM ws) GROUP BY 1
),
big AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM ws, unnest(generate_series(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
),
bc AS (SELECT w1, w2, count(*) AS cxy FROM big GROUP BY 1, 2),
sc AS (
  SELECT (SELECT sum(cw) FROM uc) AS n1,
         (SELECT sum(cxy) FROM bc) AS nb
),
j AS (
  SELECT bc.w1, bc.w2, bc.cxy, u1.cw AS c1, u2.cw AS c2, sc.n1, sc.nb
  FROM bc
  JOIN uc u1 ON bc.w1 = u1.word
  JOIN uc u2 ON bc.w2 = u2.word
  CROSS JOIN sc
  WHERE bc.cxy >= 5
),
p AS (
  SELECT w1, w2, cxy, c1, c2,
         round(ln(((CAST(cxy AS DOUBLE) * CAST(n1 AS DOUBLE))
                   * CAST(n1 AS DOUBLE))
                  / ((CAST(nb AS DOUBLE) * CAST(c1 AS DOUBLE))
                     * CAST(c2 AS DOUBLE))), 6) AS pmi
  FROM j
),
r AS (
  SELECT *, row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rank
  FROM p
)
SELECT w1, w2, CAST(cxy AS BIGINT) AS cxy, CAST(c1 AS BIGINT) AS c1,
       CAST(c2 AS BIGINT) AS c2, pmi, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 20
ORDER BY rank
"""


# =====================================================================
# Per-source corpus statistics — unigram entropy and Zipf slope
# (operators/corpusstats.py) — over ``documents``.
# =====================================================================


# ---------------------------------------------------------------------
# per-source unigram entropy
# ---------------------------------------------------------------------


def q_source_entropy(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    return source_entropy(docs)


ORACLE_ENTROPY = """
WITH w AS (
  SELECT source,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
),
cen AS (SELECT source, word, count(*) AS c FROM w GROUP BY 1, 2),
agg AS (
  SELECT source, sum(c) AS n_tokens, count(*) AS vocab,
         sum(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 6)) AS sclnc
  FROM cen GROUP BY 1
)
SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(vocab AS BIGINT) AS vocab,
       round(ln(CAST(n_tokens AS DOUBLE))
             - sclnc / CAST(n_tokens AS DOUBLE), 6) AS entropy,
       CASE WHEN vocab > 1 THEN
         round(round(ln(CAST(n_tokens AS DOUBLE))
                     - sclnc / CAST(n_tokens AS DOUBLE), 6)
               / ln(CAST(vocab AS DOUBLE)), 6)
       END AS entropy_norm,
       round(exp(round(ln(CAST(n_tokens AS DOUBLE))
                       - sclnc / CAST(n_tokens AS DOUBLE), 6)), 6)
         AS perplexity
FROM agg ORDER BY source
"""


# ---------------------------------------------------------------------
# per-source Zipf slope over the top-100 words
# ---------------------------------------------------------------------


def q_zipf_slope(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    return zipf_slope(docs, n_top=100)


ORACLE_ZIPF = """
WITH w AS (
  SELECT source,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
),
cen AS (SELECT source, word, count(*) AS c FROM w GROUP BY 1, 2),
ranked AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source
                            ORDER BY c DESC, word ASC) AS rank
  FROM cen
),
pts AS (
  SELECT source,
         round(ln(CAST(rank AS DOUBLE)), 6) AS x,
         round(ln(CAST(c AS DOUBLE)), 6) AS y
  FROM ranked WHERE rank <= 100
),
agg AS (
  SELECT source, count(*) AS n_top,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx_, sum(y * y) AS syy_, sum(x * y) AS sxy_
  FROM pts GROUP BY 1
)
SELECT source, CAST(n_top AS BIGINT) AS n_top,
       CASE WHEN round(CAST(n_top AS DOUBLE) * sxx_ - sx * sx, 6)
                 <> CAST(0 AS DOUBLE) THEN
         round((CAST(n_top AS DOUBLE) * sxy_ - sx * sy)
               / (CAST(n_top AS DOUBLE) * sxx_ - sx * sx), 6)
       END AS slope,
       CASE WHEN round(CAST(n_top AS DOUBLE) * sxx_ - sx * sx, 6)
                 <> CAST(0 AS DOUBLE) THEN
         round((sy - ((CAST(n_top AS DOUBLE) * sxy_ - sx * sy)
                      / (CAST(n_top AS DOUBLE) * sxx_ - sx * sx)) * sx)
               / CAST(n_top AS DOUBLE), 6)
       END AS intercept,
       CASE WHEN round(CAST(n_top AS DOUBLE) * sxx_ - sx * sx, 6)
                 <> CAST(0 AS DOUBLE)
             AND round(CAST(n_top AS DOUBLE) * syy_ - sy * sy, 6)
                 <> CAST(0 AS DOUBLE) THEN
         round(((CAST(n_top AS DOUBLE) * sxy_ - sx * sy)
                * (CAST(n_top AS DOUBLE) * sxy_ - sx * sy))
               / ((CAST(n_top AS DOUBLE) * sxx_ - sx * sx)
                  * (CAST(n_top AS DOUBLE) * syy_ - sy * sy)), 6)
       END AS r2
FROM agg ORDER BY source
"""


# =====================================================================
# Leakage safety — exact-dup-safe content splits (operators/export.py)
# and reference-corpus n-gram novelty (operators/decontaminate.py).
# =====================================================================


# ---------------------------------------------------------------------
# exact-dup-safe content splits — 80/10/10 keyed on the content hash
# ---------------------------------------------------------------------


def q_content_splits(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = content_splits(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, salt="split"
    )
    return out.select("doc_id", "content_key", "split").orderBy("doc_id")


ORACLE_CONTENT_SPLITS = """
WITH keyed AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
           AS content_key
  FROM documents
),
u AS (
  SELECT doc_id, content_key,
         CAST('0x' || substr(md5(content_key || ':' || 'split'), 1, 8)
              AS UBIGINT) / 4294967296.0 AS uu
  FROM keyed
)
SELECT doc_id, content_key,
       CASE WHEN uu < CAST(0.8 AS DOUBLE) THEN 'train'
            WHEN uu < CAST(0.8 AS DOUBLE) + CAST(0.1 AS DOUBLE)
              THEN 'val'
            ELSE 'test' END AS split
FROM u ORDER BY doc_id
"""


# ---------------------------------------------------------------------
# reference-corpus 3-gram novelty — reference = every 10th doc (the
# contamination queries' deterministic split), corpus = the rest
# ---------------------------------------------------------------------


def q_novelty(spark, sf_dir):
    from grass_spark.operators.decontaminate import novelty_report

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    ref = d.filter(F.col("doc_id") % 10 == 0)
    return novelty_report(corpus, ref, n=3).orderBy("doc_id")


ORACLE_NOVELTY = """
WITH nrm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents
), w3 AS (
  SELECT doc_id, string_split(t, ' ') AS ws FROM nrm
), sh3 AS (
  SELECT doc_id,
         CAST(greatest(len(ws) - 2, 1) AS BIGINT) AS n_shingles,
         CAST(g.i - 1 AS BIGINT) AS idx,
         array_to_string(ws[g.i:g.i+2], ' ') AS s
  FROM w3, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS g(i)
),
ref AS (SELECT DISTINCT s FROM sh3 WHERE doc_id % 10 = 0),
cor AS (SELECT doc_id, n_shingles, idx, s FROM sh3 WHERE doc_id % 10 <> 0),
hits AS (
  SELECT c.doc_id, c.n_shingles,
         sum(CASE WHEN r.s IS NOT NULL THEN 1 ELSE 0 END) AS n_seen
  FROM cor c LEFT JOIN ref r USING (s)
  GROUP BY 1, 2
)
SELECT doc_id, n_shingles, CAST(n_seen AS BIGINT) AS n_seen,
       round(CAST(1 AS DOUBLE)
             - CAST(n_seen AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6)
         AS novelty
FROM hits ORDER BY doc_id
"""


# ---------------------------------------------------------------------
# Levenshtein re-score of the banded-LSH candidate pairs
# ---------------------------------------------------------------------

_EDIT_THRESHOLD = 0.3


def q_edit_verify(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    sh = with_shingles(d, "text", 3).select("doc_id", "sh_arr").localCheckpoint()
    cands = _md5_cands(sh)
    return edit_similarity_pairs(
        cands, d, threshold=_EDIT_THRESHOLD
    ).orderBy("id_a", "id_b")


ORACLE_EDIT_VERIFY = f"""
WITH {_SQL_SHINGLES},
{_SQL_CANDS},
t AS (
  SELECT doc_id, text, CAST(length(text) AS INT) AS len FROM documents
),
j AS (
  SELECT c.id_a, c.id_b, ta.len AS len_a, tb.len AS len_b,
         ta.text AS xa, tb.text AS xb
  FROM cands c
  JOIN t ta ON ta.doc_id = c.id_a
  JOIN t tb ON tb.doc_id = c.id_b
  WHERE CAST(least(ta.len, tb.len) AS DOUBLE)
        >= {_EDIT_THRESHOLD} * CAST(greatest(ta.len, tb.len) AS DOUBLE)
),
s AS (
  SELECT id_a, id_b, len_a, len_b,
         CAST(levenshtein(xa, xb) AS INT) AS lev,
         CASE WHEN len_a + len_b = 0 THEN CAST(1 AS DOUBLE)
         ELSE round(CAST(1 AS DOUBLE)
                    - CAST(levenshtein(xa, xb) AS DOUBLE)
                      / CAST(greatest(len_a, len_b) AS DOUBLE), 6)
         END AS sim
  FROM j
)
SELECT id_a, id_b, len_a, len_b, lev, sim
FROM s WHERE sim >= {_EDIT_THRESHOLD}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------
# directed containment over the banded-LSH candidate pairs
# ---------------------------------------------------------------------


def q_containment_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    sh = (
        with_shingles(d, "text", 3)
        .select("doc_id", "sh_arr")
        .localCheckpoint()
    )
    return ngram_containment_pairs(d, _md5_cands(sh), shingles=sh).orderBy(
        "id_a", "id_b"
    )


ORACLE_CONTAINMENT_PAIRS = f"""
WITH {_SQL_SHINGLES},
{_SQL_CANDS}
SELECT c.id_a, c.id_b,
       CAST(len(sa.ls) AS INT) AS n_a,
       CAST(len(sb.ls) AS INT) AS n_b,
       CASE WHEN len(sa.ls) > 0 THEN
         round(CAST(len(list_intersect(sa.ls, sb.ls)) AS DOUBLE)
               / CAST(len(sa.ls) AS DOUBLE), 6)
       END AS containment_a,
       CASE WHEN len(sb.ls) > 0 THEN
         round(CAST(len(list_intersect(sa.ls, sb.ls)) AS DOUBLE)
               / CAST(len(sb.ls) AS DOUBLE), 6)
       END AS containment_b,
       CASE WHEN len(sa.ls) + len(sb.ls)
                 - len(list_intersect(sa.ls, sb.ls)) > 0 THEN
         round(CAST(len(list_intersect(sa.ls, sb.ls)) AS DOUBLE)
               / CAST(len(sa.ls) + len(sb.ls)
                      - len(list_intersect(sa.ls, sb.ls)) AS DOUBLE), 6)
       END AS jaccard
FROM cands c
JOIN sets sa ON sa.doc_id = c.id_a
JOIN sets sb ON sb.doc_id = c.id_b
ORDER BY c.id_a, c.id_b
"""


# ---------------------------------------------------------------------
# corpus snapshot diff (old vs deterministically-mutated new)
# ---------------------------------------------------------------------


def q_corpus_diff(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    kept = docs.where(F.col("doc_id") % 17 != 0)
    new = kept.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).unionAll(
        docs.where(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.lit("new doc "), F.col("doc_id").cast("string"))
            .alias("text"),
        )
    )
    return corpus_diff(docs, new).orderBy("status")


ORACLE_CORPUS_DIFF = """
WITH old AS (SELECT doc_id, md5(text) AS h FROM documents),
new AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END)
           AS h
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         md5('new doc ' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents WHERE doc_id < 5
),
j AS (
  SELECT CASE WHEN old.h IS NULL THEN 'added'
              WHEN new.h IS NULL THEN 'removed'
              WHEN old.h = new.h THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM old FULL OUTER JOIN new USING (doc_id)
),
c AS (SELECT status, count(*) AS n_docs FROM j GROUP BY 1),
spine(status) AS (
  VALUES ('added'), ('removed'), ('changed'), ('unchanged')
)
SELECT spine.status,
       CAST(coalesce(c.n_docs, 0) AS BIGINT) AS n_docs
FROM spine LEFT JOIN c USING (status)
ORDER BY status
"""


# =====================================================================
# Entity-resolution candidates (operators/linkage.py — blocked fuzzy
# self-join with exact Levenshtein verification over customer names) and
# the exact set-similarity self-join (operators/setsim.py — Bayardo
# prefix-filtered Jaccard over 3-word shingle sets of the documents
# table).
#
# Both oracles are naive-exact DuckDB replays: the blocked join is a
# plain block-key self-join (levenshtein is the identical classic DP
# metric in both engines); the set-similarity oracle brute-forces the
# shared-token candidate join — prefix filtering on the Spark side is a
# pure candidate PRUNE, so the result sets must be identical.
# =====================================================================


# ---------------------------------------------------------------------
# blocked fuzzy record linkage: customer names within edit distance 1,
# blocked on the first 15 characters ("Customer#" + 6 leading digits →
# blocks of at most 1000 names at any SF)
# ---------------------------------------------------------------------


def q_fuzzy_pairs(spark, sf_dir):
    out = blocked_fuzzy_pairs(
        _t(spark, sf_dir, "customer"),
        id_col="c_custkey",
        name_col="c_name",
        block=15,
        max_dist=1,
    )
    return out.select(
        "id_a", "id_b", F.col("dist").cast("long").alias("dist")
    ).orderBy("id_a", "id_b")


ORACLE_FUZZY_PAIRS = """
WITH c AS (
  SELECT c_custkey AS id, c_name AS nm, substr(c_name, 1, 15) AS bk
  FROM customer WHERE c_name IS NOT NULL
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
FROM c a JOIN c b ON a.bk = b.bk AND a.id < b.id
WHERE levenshtein(a.nm, b.nm) <= 1
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------
# exact set-similarity self-join: Jaccard >= 0.6 over 3-word shingle
# sets (whitespace words; shingles space-joined, short docs fall back
# to the whole text — mirrors dedup.shingles_of_words exactly)
# ---------------------------------------------------------------------


def q_setsim_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    toks = d.select(
        F.col("doc_id"), shingles_of_words(words, 3).alias("sh")
    )
    return setsim_pairs(
        toks, id_col="doc_id", tokens_col="sh", threshold=0.6
    )


ORACLE_SETSIM_DOCS = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(ws) >= 3
              THEN ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
              ELSE coalesce(array_to_string(ws, ' '), '') END AS tok
  FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS t(i)
),
n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, i AS n_inter, na.n + nb.n - i AS n_union,
       round(CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE), 6)
         AS jaccard
FROM inter
JOIN n na ON id_a = na.doc_id
JOIN n nb ON id_b = nb.doc_id
WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE)
      >= CAST('0.6' AS DOUBLE)
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------
# Heaps vocabulary growth over doc-id buckets
# ---------------------------------------------------------------------

_VG_BUCKET = 200


def q_vocab_growth(spark, sf_dir):
    return vocab_growth(
        _t(spark, sf_dir, "documents"), bucket_size=_VG_BUCKET
    )


ORACLE_VOCAB_GROWTH = f"""
WITH w AS (
  SELECT doc_id // {_VG_BUCKET} AS bucket,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
toks AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(ws)) AS BIGINT) AS bucket_tokens
  FROM w GROUP BY 1
),
fo AS (
  SELECT word, min(bucket) AS fb
  FROM (SELECT bucket, unnest(list_distinct(ws)) AS word FROM w)
  GROUP BY 1
),
wc AS (
  SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS new_words
  FROM fo GROUP BY 1
),
g AS (
  SELECT t.bucket, t.n_docs, t.bucket_tokens,
         CAST(coalesce(wc.new_words, 0) AS BIGINT) AS new_words
  FROM toks t LEFT JOIN wc ON wc.bucket = t.bucket
)
SELECT bucket, n_docs, bucket_tokens, new_words,
       CAST(sum(new_words) OVER (ORDER BY bucket) AS BIGINT)
         AS cum_vocab,
       CAST(sum(bucket_tokens) OVER (ORDER BY bucket) AS BIGINT)
         AS cum_tokens
FROM g
ORDER BY bucket
"""


# =====================================================================
# Water-filling mixture solver (operators/waterfill.py — the unique cap
# level with ``sum(min(S_i, L)) = budget`` over per-source token
# volumes; the budget-GUARANTEEING counterpart of corpus_mixture) and
# the exact-duplicate family-size histogram (operators/dedup.py
# ``dup_size_distribution``).
# =====================================================================


#: fixed absolute budget: constrains the sf0.01 corpus (~27k tokens
#: over 20 sources) at the top of the distribution and drives the
#: below-smallest-source fallback segment at sf0.1
_WF_BUDGET = 26_000


# ---------------------------------------------------------------------
# water-filling allocation
# ---------------------------------------------------------------------


def q_waterfill_mixture(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    return waterfill_mixture(
        d, _WF_BUDGET, source_col="source",
        weight_expr=toks.cast("long"),
    )


ORACLE_WATERFILL_MIXTURE = f"""
WITH cen AS (
  SELECT source,
         CAST(sum(len(list_filter(string_split(text, ' '),
                                  x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
ranked AS (
  SELECT source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
                ORDER BY n_tokens, source
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum,
         CAST(count(*) OVER ()
              - row_number() OVER (ORDER BY n_tokens, source) + 1
              AS BIGINT) AS nb
  FROM cen
),
tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS t,
         CAST(count(*) AS BIGINT) AS ns
  FROM cen
),
seg AS (
  SELECT CAST({_WF_BUDGET} - cum AS DOUBLE) / CAST(nb AS DOUBLE)
           AS level, 1 AS pri
  FROM ranked WHERE cum + nb * n_tokens > {_WF_BUDGET}
  ORDER BY n_tokens, source LIMIT 1
),
fb AS (
  SELECT CAST(t AS DOUBLE) AS level, 0 AS pri FROM tot
),
lv AS (
  SELECT level FROM (SELECT * FROM seg UNION ALL SELECT * FROM fb)
  ORDER BY pri DESC LIMIT 1
)
SELECT r.source, r.n_tokens,
       CASE WHEN t <= {_WF_BUDGET}
                 OR CAST(r.n_tokens AS DOUBLE) <= level
            THEN CAST(1 AS DOUBLE)
            ELSE round(level / CAST(r.n_tokens AS DOUBLE), 6)
       END AS keep_rate,
       CASE WHEN t <= {_WF_BUDGET}
            THEN round(CAST(r.n_tokens AS DOUBLE), 6)
            ELSE round(least(CAST(r.n_tokens AS DOUBLE), level), 6)
       END AS alloc_tokens
FROM ranked r CROSS JOIN lv CROSS JOIN tot
ORDER BY r.source
"""


# ---------------------------------------------------------------------
# duplicate family-size histogram
# ---------------------------------------------------------------------


def q_dup_size_dist(spark, sf_dir):
    return dup_size_distribution(_t(spark, sf_dir, "documents"))


ORACLE_DUP_SIZE_DIST = """
WITH fam AS (
  SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS family_size
  FROM documents GROUP BY 1
),
hist AS (
  SELECT family_size, CAST(count(*) AS BIGINT) AS n_families,
         CAST(sum(family_size) AS BIGINT) AS n_docs
  FROM fam GROUP BY 1
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t FROM hist)
SELECT family_size, n_families, n_docs,
       round(CAST(n_docs AS DOUBLE) / CAST(t AS DOUBLE), 6) AS frac_docs
FROM hist CROSS JOIN tot
ORDER BY family_size
"""


# =====================================================================
# Exact two-sample Kolmogorov–Smirnov length-drift test
# (operators/divergence.py ``ks_test``, the drift gate's test): English
# vs non-English doc lengths.
# =====================================================================


# ---------------------------------------------------------------------
# KS length drift: en vs non-en
# ---------------------------------------------------------------------


def q_ks_lengths(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return ks_test(
        d.where(F.col("lang") == "en"),
        d.where(F.col("lang").isNotNull() & (F.col("lang") != "en")),
        value_col="n_chars",
    )


ORACLE_KS_LENGTHS = """
WITH ca AS (
  SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS ca
  FROM documents WHERE lang = 'en' GROUP BY 1
),
cb AS (
  SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS cb
  FROM documents WHERE lang IS NOT NULL AND lang <> 'en' GROUP BY 1
),
j AS (
  SELECT coalesce(ca.v, cb.v) AS v,
         coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb
  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v
),
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
  FROM j
),
c AS (
  SELECT v,
         CAST(sum(ca) OVER (ORDER BY v) AS HUGEINT) AS cuma,
         CAST(sum(cb) OVER (ORDER BY v) AS HUGEINT) AS cumb
  FROM j
),
num AS (
  SELECT v, abs(cuma * CAST(nb AS HUGEINT) - cumb * CAST(na AS HUGEINT))
           AS nm
  FROM c CROSS JOIN tot
),
mx AS (SELECT max(nm) AS m FROM num)
SELECT na AS n_a, nb AS n_b,
       round(CAST(m AS DOUBLE)
             / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS ks_stat,
       (SELECT min(v) FROM num WHERE nm = m) AS ks_at
FROM tot CROSS JOIN mx
"""


REGISTRY = {
    "dedup_exact": (q_dedup_exact, ORACLE_DEDUP_EXACT),
    "text_stats": (q_text_stats, ORACLE_TEXT_STATS),
    "doc_fingerprint": (q_doc_fingerprint, ORACLE_DOC_FINGERPRINT),
    "token_count": (q_token_count, ORACLE_TOKEN_COUNT),
    "lang_guess": (q_lang_guess, ORACLE_LANG_GUESS),
    "minhash_sig": (q_minhash_sig, ORACLE_MINHASH_SIG),
    "minhash_pairs": (q_minhash_pairs, ORACLE_MINHASH_PAIRS),
    "jaccard_verify": (q_jaccard_verify, ORACLE_JACCARD_VERIFY),
    "simhash_portable": (q_simhash_portable, _simhash_oracle()),
    "near_dedup_keep": (q_near_dedup_keep, ORACLE_NEAR_DEDUP_KEEP),
    "heavy_hitters": (q_heavy_hitters, ORACLE_HEAVY_HITTERS),
    "contamination": (q_contamination, ORACLE_CONTAMINATION),
    "decontaminate_keep": (q_decontaminate_keep, ORACLE_DECONTAMINATE_KEEP),
    "chunk_dedup": (q_chunk_dedup, ORACLE_CHUNK_DEDUP),
    "pack_sequences": (q_pack_sequences, ORACLE_PACK_SEQUENCES),
    "corpus_mixture": (q_corpus_mixture, ORACLE_CORPUS_MIXTURE),
    "mixture_sample": (q_mixture_sample, ORACLE_MIXTURE_SAMPLE),
    "pii_redact": (q_pii_redact, _oracle_pii_redact()),
    "repetition_stats": (q_repetition, ORACLE_REPETITION),
    "lm_perplexity": (q_lm_perplexity, ORACLE_LM_PERPLEXITY),
    "semantic_dedup": (q_semantic_dedup, ORACLE_SEMANTIC_DEDUP),
    "export_shards": (q_export_shards, ORACLE_EXPORT_SHARDS),
    "dataset_splits": (q_dataset_splits, ORACLE_DATASET_SPLITS),
    "subword_tokens": (q_subword_tokens, _subword_oracle()),
    "delta_dedup": (q_delta_dedup, ORACLE_DELTA_DEDUP),
    "source_cap": (q_source_cap, ORACLE_SOURCE_CAP),
    "quality_filter": (q_quality_filter, ORACLE_QUALITY_FILTER),
    "dup_spans": (q_dup_spans, ORACLE_DUP_SPANS),
    "tfidf_keywords": (q_tfidf_keywords, ORACLE_TFIDF),
    "quality_classifier": (q_quality_classifier, ORACLE_CLASSIFIER),
    "doc_chunks": (q_doc_chunks, ORACLE_CHUNKS),
    "bpe_merges": (q_bpe_merges, None),
    "semantic_contamination": (q_semantic_contamination, ORACLE_SEMDECON),
    "corpus_divergence": (q_corpus_divergence, ORACLE_DIVERGENCE),
    "boilerplate_strip": (q_boilerplate_strip, ORACLE_BOILERPLATE_STRIP),
    "dedup_best_keep": (q_dedup_best_keep, ORACLE_DEDUP_BEST_KEEP),
    "perplexity_buckets": (q_perplexity_buckets, ORACLE_PERPLEXITY_BUCKETS),
    "dsir_weights": (q_dsir_weights, ORACLE_DSIR_WEIGHTS),
    "dsir_sample": (q_dsir_sample, ORACLE_DSIR_SAMPLE),
    "diversity_sample": (q_diversity_sample, ORACLE_DIVERSITY_SAMPLE),
    "dedup_report": (q_dedup_report, ORACLE_DEDUP_REPORT),
    "line_filter": (q_line_filter, ORACLE_LINE_FILTER),
    "subword_encode": (q_subword_encode, _subword_encode_oracle()),
    "temperature_sample": (q_temperature_sample, ORACLE_TEMPERATURE_SAMPLE),
    "normalize_text": (q_normalize_text, ORACLE_NORMALIZE_TEXT),
    "sft_examples": (q_sft_examples, ORACLE_SFT_EXAMPLES),
    "context_tail": (q_context_tail, ORACLE_CONTEXT_TAIL),
    "transcript_lint": (q_transcript_lint, ORACLE_TRANSCRIPT_LINT),
    "sb_perplexity": (q_sb_perplexity, ORACLE_SB_PERPLEXITY),
    "sft_jsonl": (q_sft_jsonl, ORACLE_SFT_JSONL),
    "preference_pairs": (q_preference_pairs, ORACLE_PREFERENCE_PAIRS),
    "upsample_epochs": (q_upsample_epochs, ORACLE_UPSAMPLE_EPOCHS),
    "length_batches": (q_length_batches, ORACLE_LENGTH_BATCHES),
    "dpo_jsonl": (q_dpo_jsonl, ORACLE_DPO_JSONL),
    "rejection_sample": (q_rejection_sample, ORACLE_REJECTION_SAMPLE),
    "blocklist_flags": (q_blocklist_flags, ORACLE_BLOCKLIST_FLAGS),
    "shard_manifest": (q_shard_manifest, ORACLE_SHARD_MANIFEST),
    "source_overlap": (q_source_overlap, ORACLE_SOURCE_OVERLAP),
    "readability": (q_readability, ORACLE_READABILITY),
    "lexical_diversity": (q_lexical_diversity, ORACLE_LEXICAL_DIVERSITY),
    "length_drift": (q_length_drift, ORACLE_LENGTH_DRIFT),
    "pmi_collocations": (q_pmi_collocations, ORACLE_PMI),
    "source_entropy": (q_source_entropy, ORACLE_ENTROPY),
    "zipf_slope": (q_zipf_slope, ORACLE_ZIPF),
    "content_splits": (q_content_splits, ORACLE_CONTENT_SPLITS),
    "novelty": (q_novelty, ORACLE_NOVELTY),
    "edit_verify": (q_edit_verify, ORACLE_EDIT_VERIFY),
    "containment_pairs": (q_containment_pairs, ORACLE_CONTAINMENT_PAIRS),
    "corpus_diff": (q_corpus_diff, ORACLE_CORPUS_DIFF),
    "fuzzy_pairs": (q_fuzzy_pairs, ORACLE_FUZZY_PAIRS),
    "setsim_docs": (q_setsim_docs, ORACLE_SETSIM_DOCS),
    "vocab_growth": (q_vocab_growth, ORACLE_VOCAB_GROWTH),
    "waterfill_mixture": (q_waterfill_mixture, ORACLE_WATERFILL_MIXTURE),
    "dup_size_dist": (q_dup_size_dist, ORACLE_DUP_SIZE_DIST),
    "ks_lengths": (q_ks_lengths, ORACLE_KS_LENGTHS),
}
