"""Round-9 additions — QuerySpecs + DuckDB oracle SQL twins.
"""

from __future__ import annotations

import os

from ._base import *  # noqa: F401,F403 — shared registry namespace
from .q_text import _NORM  # noqa: F401 — cross-domain helper
from .q_r8 import _INGEST_DEDUP_ORACLE  # noqa: F401 — shared oracle


def _streaming_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain wrapper: resident corpus = doc_id % 10 <> 0, the ingest
    set re-staged as FOUR parquet files so the availableNow drain runs
    four genuine micro-batches (the single-file fixture would collapse
    to one); classification is per-doc against the resident corpus, so
    the drained union is gated against the SAME DuckDB oracle as the
    batch incremental_ingest_dedup.

    The staged SOURCE directory is memoized per sf_dir in the session's
    state — fixture residency, same argument as the media tables: the
    stage write fabricates the stream's input files (in production the
    arriving files ARE the input), and its bytes are a deterministic
    pure function of the immutable fixture (filter + sorted round-robin
    repartition), so re-writing them per invocation measured only the
    fixture synthesis.  The drain itself still re-reads, re-classifies
    and re-writes EVERY file per invocation (fresh checkpoint + output
    dirs each call — no result residency)."""
    import tempfile

    from ozone_spark.streaming import windows as swin

    docs = views(spark, sf_dir)["documents"]
    stages = session.state(spark).setdefault("ingest_stage", {})
    staged = stages.get(sf_dir)
    if staged is None or not os.path.isdir(staged):
        staged = tempfile.mkdtemp(prefix="ozs_ingest_src_")
        docs.where("doc_id % 10 = 0").repartition(4) \
            .write.mode("overwrite").parquet(staged)
        stages[sf_dir] = staged
    stream = swin.read_documents_stream(spark, staged)
    return swin.streaming_ingest_dedup(
        spark, stream, docs.where("doc_id % 10 <> 0"),
        tempfile.mkdtemp(prefix="ozs_ingest_out_"),
        tempfile.mkdtemp(prefix="ozs_ingest_ckpt_"),
    ).orderBy("doc_id")


R9_QUERIES = [
    _q(
        "streaming_ingest_dedup",
        _streaming_ingest_dedup,
        _INGEST_DEDUP_ORACLE,
        bench=True,
    ),
    _q(
        "bucket_cap_report",
        lambda spark, sf: dedup.bucket_cap_report(
            views(spark, sf)["documents"]),
        # Bucket sizes derive from the RAW distinct-shingle strings
        # (the same derivation as dedup_ngram_jaccard's oracle); the
        # Spark side buckets on xxhash64(shingle) — identical counts
        # up to 64-bit collisions, the documented equivalence the
        # jaccard oracle already relies on.
        f"""WITH words AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
  WHERE len(string_split({_NORM}, ' ')) >= 3
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, greatest(len(w) - 2, 0) + 1),
    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS shingle
  FROM words
), bs AS (
  SELECT shingle, count(*) AS s FROM sh GROUP BY 1 HAVING count(*) >= 2
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_buckets,
    CAST(coalesce(sum(CASE WHEN s > 200 THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS n_dropped_buckets,
    CAST(coalesce(sum(s * (s - 1) // 2), 0) AS BIGINT) AS pairs_total,
    CAST(coalesce(sum(CASE WHEN s > 200 THEN s * (s - 1) // 2 ELSE 0 END),
                  0) AS BIGINT) AS pairs_dropped
  FROM bs
), dd AS (
  SELECT CAST(count(DISTINCT sh.doc_id) AS BIGINT) AS n_docs_in_dropped
  FROM sh JOIN bs ON sh.shingle = bs.shingle AND bs.s > 200
), dt AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM sh
)
SELECT n_buckets, n_dropped_buckets,
  (n_dropped_buckets * 1000000) // greatest(n_buckets, 1)
    AS dropped_bucket_ppm,
  pairs_total, pairs_dropped,
  (pairs_dropped * 1000000) // greatest(pairs_total, 1)
    AS pairs_dropped_ppm,
  n_docs, n_docs_in_dropped,
  (n_docs_in_dropped * 1000000) // greatest(n_docs, 1)
    AS docs_in_dropped_ppm,
  ((pairs_total - pairs_dropped) * 1000000) // greatest(pairs_total, 1)
    AS survivor_pair_ppm
FROM agg, dd, dt""",
        bench=True,
    ),
    _q(
        "media_png_features",
        lambda spark, sf: multimodal.png_features(
            multimodal.png_media_table(
                views(spark, sf)["documents"])).orderBy("doc_id"),
        # third REAL decode path (VERDICT r8 item 7): each doc becomes
        # a genuine 8-bit truecolor PNG (signature, chunk CRC32s, zlib
        # deflate IDAT, and — via the encoder's r % 5 rule with min
        # height 5 — ALL FIVE scanline filters in every file) and is
        # parsed back by the pure-numpy+stdlib decoder; channel sums
        # replay the shared pixel pattern flat[i] = (doc_id + i) % 256,
        # exactly like the PPM/BMP twins (width 13, 39 bytes per row)
        """WITH d AS (
  SELECT doc_id, greatest((n_chars + 38) // 39, 5) AS h FROM documents
), px AS (
  SELECT doc_id, h, unnest(range(13 * h)) AS p FROM d
), s AS (
  SELECT doc_id,
    CAST(sum((doc_id + 3 * p + 0) % 256) AS BIGINT) AS sum_r,
    CAST(sum((doc_id + 3 * p + 1) % 256) AS BIGINT) AS sum_g,
    CAST(sum((doc_id + 3 * p + 2) % 256) AS BIGINT) AS sum_b
  FROM px GROUP BY doc_id
)
SELECT d.doc_id, CAST(13 AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
  CAST(13 * h AS BIGINT) AS n_pixels, sum_r, sum_g, sum_b
FROM d JOIN s USING (doc_id) ORDER BY doc_id""",
    ),
    _q(
        "dedup_saturated_sample",
        # gate-scale knobs: the fixture's bucket tail tops out at 7 docs
        # (sf0.01) / 25 docs (sf0.1), so the production defaults
        # (cap 200, sample 50) would gate an empty result; cap 5 /
        # sample 3 exercises every stage (saturation, Bernoulli
        # thinning, bounded pair explode) with nonzero rows at BOTH SFs
        lambda spark, sf: dedup.saturated_pair_sample(
            views(spark, sf)["documents"], max_bucket=5, sample=3),
        # buckets keyed on the raw shingle string (the documented
        # hash60-equivalence the jaccard oracle already relies on); the
        # thinning key is md5-derived, so it replays bit-identically
        f"""WITH words AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
  WHERE len(string_split({_NORM}, ' ')) >= 3
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, greatest(len(w) - 2, 0) + 1),
    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS shingle
  FROM words
), sat AS (
  SELECT shingle, count(*) AS s FROM sh GROUP BY 1 HAVING count(*) > 5
), kept AS (
  SELECT sh.doc_id, sh.shingle
  FROM sh JOIN sat USING (shingle)
  WHERE CAST('0x' || substr(md5(sh.shingle || ':'
        || CAST(sh.doc_id AS VARCHAR)), 1, 7) AS BIGINT) * s
        < 3 * (CAST(1 AS BIGINT) << 28)
), ok AS (
  SELECT shingle FROM kept GROUP BY 1
  HAVING count(*) BETWEEN 2 AND 12
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(count(*) AS BIGINT) AS n_shared_saturated
FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
JOIN ok ON ok.shingle = a.shingle
GROUP BY 1, 2 HAVING count(*) >= 1 ORDER BY 1, 2""",
    ),
    _q(
        "temperature_mixture",
        lambda spark, sf: pipeline.temperature_mixture(
            views(spark, sf)["documents"]),
        # alpha = 1/2 on purpose: IEEE sqrt is correctly rounded (the
        # only cross-engine-safe power), floor() re-enters exact
        # integer ppm arithmetic
        """WITH cells AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY 1
), w AS (
  SELECT *, CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS w
  FROM cells
), tot AS (
  SELECT CAST(sum(tokens) AS BIGINT) AS tt, CAST(sum(w) AS BIGINT) AS tw
  FROM w
)
SELECT lang, n_docs, tokens,
  (tokens * 1000000) // greatest(tt, 1) AS natural_ppm,
  (w * 1000000) // greatest(tw, 1) AS temp_ppm,
  (((w * 1000000) // greatest(tw, 1)) * 1000000)
    // greatest((tokens * 1000000) // greatest(tt, 1), 1) AS boost_ppm
FROM w, tot ORDER BY lang""",
    ),
    _q(
        "bucket_cap_sweep",
        lambda spark, sf: dedup.bucket_cap_sweep(
            views(spark, sf)["documents"]),
        # the |caps| x |bucket-size-histogram| sweep: both sides are
        # bounded, and the raw-string bucketing is the documented
        # hash60-equivalence the whole jaccard family relies on
        f"""WITH words AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
  WHERE len(string_split({_NORM}, ' ')) >= 3
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, greatest(len(w) - 2, 0) + 1),
    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS shingle
  FROM words
), hist AS (
  SELECT s, CAST(count(*) AS BIGINT) AS n_b,
    CAST(count(*) * (s * (s - 1) // 2) AS BIGINT) AS pair_mass
  FROM (SELECT count(*) AS s FROM sh GROUP BY shingle HAVING count(*) >= 2)
  GROUP BY s
), caps AS (SELECT unnest([5, 10, 25, 50, 100, 200]) AS cap), per AS (
  SELECT cap, CAST(coalesce(sum(n_b), 0) AS BIGINT) AS n_buckets,
    CAST(coalesce(sum(CASE WHEN s > cap THEN n_b END), 0) AS BIGINT)
      AS n_dropped_buckets,
    CAST(coalesce(sum(pair_mass), 0) AS BIGINT) AS pairs_total,
    CAST(coalesce(sum(CASE WHEN s > cap THEN pair_mass END), 0) AS BIGINT)
      AS pairs_dropped
  FROM caps, hist GROUP BY cap
)
SELECT cap, n_buckets, n_dropped_buckets, pairs_total, pairs_dropped,
  (pairs_dropped * 1000000) // greatest(pairs_total, 1)
    AS pairs_dropped_ppm,
  ((pairs_total - pairs_dropped) * 1000000) // greatest(pairs_total, 1)
    AS survivor_pair_ppm
FROM per ORDER BY cap""",
    ),
]
