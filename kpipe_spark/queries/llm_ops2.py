"""North-star LLM-pipeline operators, part 2.

Embedding-cosine near-dup, document fingerprint sketches, IVF-style
approximate nearest neighbors, and multimodal-column plumbing — each
oracle-checked where the semantics are SQL-expressible.

Scale notes are per-query; the shared discipline: no driver collect,
no Python in scoring loops, shuffles carry (id, hash/score) tuples —
never full documents or media blobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kpipe_spark.catalog import load_tables
from kpipe_spark.functions import dedup as D
from kpipe_spark.functions import multimodal as M
from kpipe_spark.functions import similarity as S
from kpipe_spark.functions.dedup import word_shingles  # noqa: F401
from kpipe_spark.functions.text import tokens
from kpipe_spark.queries import register
from kpipe_spark.queries._oracle_fragments import (
    COMPONENTS_CTES,
    MINHASH_CTES,
    SIMHASH_CTES,
)
from kpipe_spark.util import ensure_parallelism

# ---------------------------------------------------------------------------
# d11 — embedding-cosine near-duplicate pairs
# ---------------------------------------------------------------------------


@register(
    "d11_embedding_neardup",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.e, b.e), 4) AS cosine_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.e, b.e), 4) >= 0.35
    """,
    description="embedding-cosine near-duplicate pairs (sim >= 0.35). "
    "Exact all-pairs is the oracle-checkable baseline; at 100 TB swap "
    "candidate generation for the d09 LSH buckets and keep only the "
    "exact-cosine verify on candidates.",
    tags=("llm", "dedup", "similarity"),
)
def d11_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kpipe_spark.util import ensure_parallelism

    emb = load_tables(spark, sf_dir).embeddings
    v = S.as_double_array("embedding")
    # norms are PER-ROW quantities: computing them before the pair join
    # (identical fold, identical bits) turns three interpreted
    # 64-element folds per PAIR into one — and the stream side spreads
    # across cores (the 1-split scan ran the whole nested loop in one
    # task). Measured 77 s -> ~1 s at sf0.1 for the same output.
    a = ensure_parallelism(emb).select(
        F.col("vec_id").alias("id_a"), v.alias("_va"), S.norm(v).alias("_na")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), v.alias("_vb"), S.norm(v).alias("_nb")
    )
    # broadcast one side: the pair generator is then a map-side nested loop
    # over corpus partitions — no shuffle of vectors at all. At scale the
    # broadcast side is the (small) LSH-candidate set, not the corpus.
    den = F.col("_na") * F.col("_nb")
    sim = F.round(
        F.when(den > 0, S.dot(F.col("_va"), F.col("_vb")) / den), 4
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= 0.35)
    )


# ---------------------------------------------------------------------------
# d12 — document fingerprint: bottom-k shingle-hash sketch
# ---------------------------------------------------------------------------


@register(
    "d12_doc_fingerprint",
    oracle=r"""
    WITH toks AS (
      -- '' filtered to mirror text.tokens() (word_shingles input)
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t)-1),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
                  ELSE [array_to_string(t, ' ')] END AS shingles
      FROM toks
    )
    SELECT s.doc_id,
           -- contentless docs carry NO fingerprint (NULL), not
           -- md5('') — an empty sketch must never collide docs
           CASE WHEN d.text IS NULL OR NOT regexp_matches(d.text, '\S')
                THEN NULL ELSE
           array_to_string(
             list_sort(list_transform(shingles, x -> md5(x)))[1:4],
             ',') END AS fp
    FROM sh s JOIN documents d USING (doc_id)
    """,
    description="document fingerprint: bottom-4 sketch of md5(3-word "
    "shingle) — a winnowing-style rolling-hash signature. Pure "
    "projection (shingle -> md5 -> array_sort -> slice), ZERO shuffle: "
    "an explode + per-doc window formulation measured 4× slower and "
    "shuffles |shingles| rows per doc for a per-row-computable result.",
    tags=("llm", "text", "fingerprint"),
)
def d12_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kpipe_spark.functions.dedup import shingles_from_tokens

    docs = load_tables(spark, sf_dir).documents
    # tokens projected once per row (shingles_from_tokens)
    hashes = F.transform(
        shingles_from_tokens(F.col("_tk"), 3), lambda s: F.md5(s)
    )
    content = F.col("text").isNotNull() & F.col("text").rlike(r"\S")
    return ensure_parallelism(docs).select(
        "doc_id", "text", tokens("text").alias("_tk")
    ).select(
        "doc_id",
        # contentless -> NULL: the fallback shingle of a token-less doc
        # is '' and md5('') would make every such doc "identical"
        F.when(
            content,
            F.array_join(F.slice(F.array_sort(hashes), 1, 4), ","),
        ).alias("fp"),
    )


# ---------------------------------------------------------------------------
# d13 — IVF-style approximate nearest neighbors
# ---------------------------------------------------------------------------

_IVF_ORACLE = """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), cents AS (
      SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 16
    ), assigned AS (
      SELECT vec_id, e, centroid_id FROM (
        SELECT v.vec_id, v.e, c.centroid_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.centroid_id
               ) AS crn
        FROM v, cents c
      ) WHERE crn = 1
    ), probes AS (
      SELECT query_id, qe, centroid_id FROM (
        SELECT v.vec_id AS query_id, v.e AS qe, c.centroid_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.centroid_id
               ) AS crn
        FROM v, cents c WHERE v.vec_id < 8
      ) WHERE crn <= 2
    ), scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(p.qe, a.e) AS sim
      FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS cosine_sim, rn FROM (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
"""


@register(
    "d13_ivf_topk",
    oracle=_IVF_ORACLE,
    description="IVF-style ANN: 16 coarse centroids (deterministic: the "
    "first 16 vectors), corpus assigned to nearest centroid once, each "
    "query probes its 2 nearest cells and scores only those. At 100 TB "
    "the assignment is materialized as centroid-partitioned parquet and "
    "reused across query batches; per-query work drops from full-scan "
    "to nprobe/k_cells of the corpus.",
    tags=("llm", "similarity", "ivf"),
)
def d13_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir).embeddings
    # norms are per-ROW quantities: one interpreted fold per vector
    # here instead of ~4 per scored PAIR below (cosine_pre — the d11
    # norm-precompute lesson; bit-identical, see similarity.cosine_pre)
    v = emb.select(
        "vec_id", S.as_double_array("embedding").alias("_e")
    ).withColumn("_n", S.norm(F.col("_e")))
    cents = v.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("_e").alias("_ce"),
        F.col("_n").alias("_cn"),
    )

    def nearest_cells(
        side: DataFrame, vec_col: str, norm_col: str, nprobe: int
    ) -> DataFrame:
        scored = side.crossJoin(F.broadcast(cents)).select(
            side["*"],
            "centroid_id",
            S.cosine_pre(
                side[vec_col], F.col("_ce"), side[norm_col], F.col("_cn")
            ).alias("_csim"),
        )
        if nprobe == 1:
            # argmax via max_by: map-side partial agg ships one row per
            # vector instead of shuffling+sorting 16 candidate rows per
            # vector through row_number. Tie-break identical to the
            # window path (max sim, then lowest centroid_id).
            key = F.struct(F.col("_csim"), (-F.col("centroid_id")).alias("_nc"))
            return scored.groupBy(side.columns[0]).agg(
                F.max_by("centroid_id", key).alias("centroid_id"),
                F.any_value(F.col(vec_col)).alias(vec_col),
                F.any_value(F.col(norm_col)).alias(norm_col),
            )
        return S.top_k(
            scored,
            side.columns[0],
            [F.col("_csim").desc(), "centroid_id"],
            nprobe,
            "_crn",
        ).drop("_csim", "_crn")

    assigned = nearest_cells(v, "_e", "_n", 1)
    probes = nearest_cells(
        v.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"),
            F.col("_e").alias("_qe"),
            F.col("_n").alias("_qn"),
        ),
        "_qe",
        "_qn",
        2,
    )
    scored = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            S.cosine_pre(
                F.col("_qe"), F.col("_e"), F.col("_qn"), F.col("_n")
            ).alias("_sim"),
        )
    )
    return S.top_k(
        scored, "query_id", [F.col("_sim").desc(), "neighbor_id"], 5
    ).select("query_id", "neighbor_id", F.round("_sim", 4).alias("cosine_sim"), "rn")


# ---------------------------------------------------------------------------
# multimodal columns — media table derived deterministically from documents
# ---------------------------------------------------------------------------

# The closed-form content spec shared by the Python generator
# (multimodal.media_spec), the decoders, and the oracle SQL below —
# kind/dims/frames/rate/samples are all functions of doc_id, so the
# oracle can predict what a REAL decode of the generated bytes returns.
_MEDIA_SPEC_CTE = """
    spec AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                             ELSE 'video' END AS kind,
             CAST(8 + doc_id % 16 AS INT) AS w,
             CAST(8 + doc_id % 8 AS INT) AS h,
             CAST(doc_id % 24 + 1 AS INT) AS frames,
             CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sr,
             CAST(64 + doc_id % 128 AS INT) AS ns
      FROM documents
    )
"""


_KIND_RESIDUE = {"image": 0, "audio": 1, "video": 2}


def media_frame(
    spark: SparkSession,
    sf_dir: str,
    kinds: tuple[str, ...] | None = None,
    include_content: bool = True,
    spec_partitions: int | None = None,
) -> DataFrame:
    """documents -> multimodal frame: REAL binary content (genuine PNG /
    WAV / length-prefixed PNG-frame container, stdlib-generated on
    executors — multimodal.py module docstring has the content spec) +
    typed metadata struct (MEDIA_SCHEMA). mapInPandas generation: the
    driver never touches a blob; in production this stage is the
    media_ref fetch.

    ``kinds`` filters BEFORE generation (kind is a pure function of the
    id) — a consumer that wants only audio must not pay for encoding
    every video container first; the filter cannot be pushed through
    the mapInPandas stage by Catalyst, so it is applied to the id
    projection here. ``include_content=False`` is the column-pruning
    analogue for the same boundary: metadata-only consumers (m02) get
    NULL content instead of paying the codec encode per row (see
    generate_media's docstring). ``spec_partitions`` is the
    partitioning analogue: size-class placement applied to the ID
    frame (byte size is a closed form of the id) so blob-consuming
    stages downstream inherit straggler-safe placement without the
    generated bytes ever crossing an exchange
    (spec_partitioned_ids's docstring)."""
    from kpipe_spark.util import ensure_parallelism

    docs = load_tables(spark, sf_dir).documents
    if spec_partitions:
        # the spec repartition IS the parallelism spread — stacking
        # ensure_parallelism's round-robin exchange under it would pay
        # two back-to-back id shuffles for one placement
        ids = docs.select(F.col("doc_id").alias("media_id"))
    else:
        ids = ensure_parallelism(docs).select(
            F.col("doc_id").alias("media_id")
        )
    if kinds:
        residues = [_KIND_RESIDUE[k] for k in kinds]
        ids = ids.filter((F.col("media_id") % 3).isin(residues))
    if spec_partitions:
        ids = M.spec_partitioned_ids(ids, num_partitions=spec_partitions)
    return M.generate_media(ids, include_content=include_content)


@register(
    "m01_media_metadata",
    oracle=f"""
    WITH {_MEDIA_SPEC_CTE}
    SELECT doc_id AS media_id, kind,
           CAST(CASE kind WHEN 'image' THEN 68 + h * (w + 1)
                          WHEN 'audio' THEN 44 + 2 * ns
                          ELSE frames * (72 + h * (w + 1)) END
                AS BIGINT) AS byte_size,
           CAST(length(bin(CASE kind WHEN 'image' THEN 68 + h * (w + 1)
                                     WHEN 'audio' THEN 44 + 2 * ns
                                     ELSE frames * (72 + h * (w + 1)) END))
                - 1 AS INT) AS size_class
    FROM spec
    """,
    description="multimodal metadata pass: byte size and power-of-two "
    "size-class (the straggler-avoidance partition key) computed on the "
    "BINARY column — proves blobs ride through scan/project without "
    "driver materialization. The oracle predicts the measured sizes "
    "from the encoders' closed forms (stored-mode zlib: png = 68 + "
    "h*(w+1); wav = 44 + 2n; video = frames*(72 + h*(w+1))), so a "
    "hash match certifies the generated bytes are the spec'd bytes. "
    "size_class = floor(log2 n) via binary-string length — integer-"
    "exact, no float log at bucket boundaries (d45's trick).",
    tags=("llm", "multimodal"),
)
def m01_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_frame(spark, sf_dir)
    size = F.octet_length("content").cast("long")
    return media.select(
        "media_id",
        "kind",
        size.alias("byte_size"),
        (F.length(F.bin(size)) - 1).cast("int").alias("size_class"),
    )


@register(
    "m02_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           unnest(range(0, CAST(doc_id % 24 + 1 AS BIGINT), 10)) AS frame_index
    FROM documents WHERE doc_id % 3 = 2
    """,
    description="video frame-sampling plumbing: every-10th frame index "
    "fan-out from meta.frames via explode(sequence) — distributed "
    "row-generation, no driver loop; feed the sampled indexes to "
    "decode_video/decode_png when frame pixels are needed.",
    tags=("llm", "multimodal"),
)
def m02_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # kinds filter BEFORE generation (same reason as m05/m06): Catalyst
    # can't push the kind filter through the mapInPandas encode stage,
    # so without it every image/audio blob is encoded then discarded.
    # include_content=False for the same reason applied to COLUMNS:
    # sample_frames reads only (media_id, meta.frames) and Catalyst
    # can't prune `content` through mapInPandas either, so the full
    # video-container encode (frames × PNG deflate per row) was paid
    # for a column nothing read. Output identical — frame indexes are
    # pure metadata arithmetic.
    return M.sample_frames(
        media_frame(
            spark, sf_dir, kinds=("video",), include_content=False
        ),
        every_n=10,
    )


@register(
    "m03_media_features",
    oracle=f"""
    WITH {_MEDIA_SPEC_CTE},
    f AS (
      SELECT doc_id, kind,
             CASE WHEN kind IN ('image', 'video') THEN w END AS width,
             CASE WHEN kind IN ('image', 'video') THEN h END AS height,
             CASE WHEN kind = 'image' THEN 1
                  WHEN kind = 'video' THEN frames END AS n_frames,
             CASE WHEN kind = 'audio' THEN sr END AS sample_rate,
             CAST(CASE kind WHEN 'image' THEN w * h
                            WHEN 'video' THEN frames * w * h
                            ELSE ns END AS BIGINT) AS n_units,
             CASE kind
               WHEN 'image' THEN list_sum(list_transform(range(w * h),
                    i -> (i * 7 + doc_id) % 256))
               WHEN 'video' THEN list_sum(list_transform(range(frames),
                    fr -> list_sum(list_transform(range(w * h),
                          i -> (i * 7 + doc_id + fr) % 256))))
               ELSE list_sum(list_transform(range(ns),
                    i -> abs(((i * 13 + doc_id) % 201) - 100)))
             END AS value_sum
      FROM spec
    )
    SELECT doc_id AS media_id, kind, width, height, n_frames, sample_rate,
           n_units,
           CAST(floor(value_sum * 1.0 / n_units * 1000000.0 + 0.5)
                / 1000000.0 AS DOUBLE) AS mean_value,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM f
    """,
    description="REAL media decode via Arrow-batched mapInPandas: PNG "
    "signature/CRC/IHDR/inflate/defilter, RIFF chunk walk, frame-"
    "container walk — geometry and exact integer pixel/amplitude sums "
    "come from parsing the generated bytes, and the oracle recomputes "
    "them from the content spec's closed forms, so a hash match "
    "certifies encode->decode round-trips bit-exactly. Size-class "
    "repartitioned so giant blobs don't straggle; per-row decode "
    "failures become (nulls, decode_error) — outcome discipline, not "
    "task failure. The float mean is derived OUTSIDE Python from the "
    "integer sums (ieee floor rounding), keeping Python out of the "
    "float-determinism surface.",
    tags=("llm", "multimodal"),
)
def m03_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kpipe_spark.util import ieee_round

    # Size-class placement computed BEFORE generation on the ID frame
    # (predicted byte size is m01's closed form of the id), then
    # generation and decode run in ONE mapInPandas worker
    # (generate_and_extract), so the only exchange carries bare ids
    # and blob bytes never leave the worker that produced them. The
    # exchange makes exactly one wave of Python tasks
    # (defaultParallelism partitions): a literal 32 ran 32 tasks on 4
    # slots, eight waves of the per-task worker cost (ARCHITECTURE.md
    # §4).
    ids = load_tables(spark, sf_dir).documents.select(
        F.col("doc_id").alias("media_id")
    )
    feats = M.generate_and_extract(M.spec_partitioned_ids(ids))
    return feats.select(
        "media_id",
        "kind",
        "width",
        "height",
        "n_frames",
        "sample_rate",
        "n_units",
        ieee_round(F.col("value_sum") / F.col("n_units"), 6).alias("mean_value"),
        "decode_error",
    )


@register(
    "d14_doc_embedding_quality",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, lang,
             len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
               / len(regexp_split_to_array(trim(text), '\\s+')) AS diversity
      FROM documents
    )
    SELECT e.label, q.lang,
           count(*) AS n_docs,
           round(avg(q.diversity), 4) AS avg_diversity,
           round(avg(sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]),
                                                  x -> x * x)))), 4) AS avg_norm
    FROM q JOIN embeddings e ON q.doc_id = e.vec_id
    GROUP BY e.label, q.lang
    """,
    description="document<->embedding linkage (doc_id = vec_id): lexical "
    "diversity joined to vector norms per (label, lang) — the text-vs-"
    "embedding hygiene cross-check of a training corpus. Equi-join on "
    "the id, aggregates carry scalars only (vectors reduce map-side).",
    tags=("llm", "join", "quality"),
)
def d14_doc_embedding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kpipe_spark.functions import text as T

    t = load_tables(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    q = t.documents.select(
        "doc_id",
        "lang",
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("diversity"),
    )
    e = t.embeddings.select(
        F.col("vec_id").alias("doc_id"),
        "label",
        S.norm(S.as_double_array("embedding")).alias("_norm"),
    )
    return (
        q.join(e, "doc_id")
        .groupBy("label", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("diversity"), 4).alias("avg_diversity"),
            F.round(F.avg("_norm"), 4).alias("avg_norm"),
        )
    )


@register(
    "d15_simhash_neardup",
    oracle=f"""
    WITH {SIMHASH_CTES}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash64, b.simhash64)) AS INTEGER)
             AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 3
      AND a.simhash64 <> 0 AND b.simhash64 <> 0
    """,
    description="SimHash near-dup pairs (hamming <= 3) via the "
    "pigeonhole chunk scheme: 4 x 16-bit chunks bucket the corpus — any "
    "pair within 3 bits shares a chunk exactly (100% recall by "
    "construction) — then exact hamming verifies candidates only. One "
    "shuffle; the quadratic work confined to chunk buckets. The oracle "
    "exploits the recall guarantee: an all-pairs hamming filter is the "
    "same result set, so the bucketed plan is verified end-to-end "
    "(md5-lane simhash is bit-identical across engines).",
    tags=("llm", "dedup", "simhash"),
)
def d15_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kpipe_spark.functions.dedup import simhash_neardup_pairs

    docs = load_tables(spark, sf_dir).documents
    return simhash_neardup_pairs(docs)


@register(
    "d16_pii_scrub",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(text, '[0-9]+', '#', 'g')) AS redacted_md5,
           len(regexp_extract_all(text, '[0-9]+')) AS n_redactions,
           length(text) - length(regexp_replace(text, '[0-9]+', '', 'g'))
             AS n_digits_removed
    FROM documents
    """,
    description="PII-scrub plumbing: pattern redaction over the corpus "
    "(kpipe's removeFields('password','ssn') generalized to free text, "
    "docs/FORMATS.md:27) — digit-run redaction with audit counts, pure "
    "projection; swap the pattern set for email/phone/ssn regexes in "
    "production.",
    tags=("llm", "text", "privacy"),
)
def d16_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir).documents
    redacted = F.regexp_replace("text", "[0-9]+", "#")
    stripped = F.regexp_replace("text", "[0-9]+", "")
    return docs.select(
        "doc_id",
        F.md5(redacted).alias("redacted_md5"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).alias(
            "n_redactions"
        ),
        (F.length("text") - F.length(stripped)).alias("n_digits_removed"),
    )


@register(
    "d17_unigram_logprob",
    oracle=r"""
    WITH tok AS (
      -- '' filtered to mirror text.tokens()
      SELECT doc_id, t FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        FROM documents) WHERE t <> ''
    ), cnt AS (
      SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t
    ), freq AS (
      SELECT t, sum(c) / (SELECT sum(c) FROM cnt) AS p
      FROM cnt GROUP BY t
    )
    SELECT cnt.doc_id,
           round(sum(cnt.c * log10(freq.p)) / sum(cnt.c), 4) AS avg_logprob,
           CAST(sum(cnt.c) AS BIGINT) AS n_tokens
    FROM cnt JOIN freq ON cnt.t = freq.t
    GROUP BY cnt.doc_id
    """,
    description="unigram language-model quality score: one explode into "
    "per-(doc, token) counts, whose exchange BOTH branches consume — "
    "the vocab frequency table (tiny, broadcast back) and the scoring "
    "join (weighted mean log10 p per doc). Catalyst's ReuseExchange "
    "materializes the exploded counts once in shuffle files instead of "
    "re-running the corpus explode per branch (the naive two-pass shape "
    "scans and splits every document twice). The KenLM-style perplexity "
    "pre-filter shape; only (doc_id, scalar) rows shuffle after the "
    "counts exchange.",
    tags=("llm", "text", "quality"),
)
def d17_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kpipe_spark.functions.text import tokens

    docs = load_tables(spark, sf_dir).documents
    tok = ensure_parallelism(docs).select(
        "doc_id", F.explode(tokens("text")).alias("t")
    )
    # one shuffle on (doc_id, t): both consumers below read this SAME
    # exchange (ReuseExchange) — the explode runs once
    cnt = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    counts = cnt.groupBy("t").agg(F.sum("c").alias("_n"))
    # corpus total derived from the (vocab-sized) counts table and
    # broadcast as a 1-row frame — no driver action
    total = counts.agg(F.sum("_n").alias("_total"))
    freq = counts.crossJoin(F.broadcast(total)).select(
        "t", (F.col("_n") / F.col("_total")).alias("p")
    )
    return (
        cnt.join(F.broadcast(freq), "t")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("c") * F.log10("p")) / F.sum("c"), 4
            ).alias("avg_logprob"),
            F.sum("c").alias("n_tokens"),
        )
    )


@register(
    "d18_bpe_token_stats",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'))
             AS n_subword_tokens,
           len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')))
             AS n_distinct_subwords,
           regexp_extract_all(lower(text), '[a-z]+|[0-9]+')[1] AS first_token
    FROM documents
    """,
    description="BPE-ish pre-tokenization counts: maximal same-class "
    "(letter/digit) runs — the GPT-2-style pre-tok boundary, the cheap "
    "deterministic stand-in for a real BPE vocab. Pure projection.",
    tags=("llm", "text", "tokenize"),
)
def d18_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kpipe_spark.functions.text import bpe_ish_tokens

    docs = load_tables(spark, sf_dir).documents
    toks = bpe_ish_tokens("text")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_subword_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_subwords"),
        F.element_at(toks, 1).alias("first_token"),
    )


@register(
    "d19_stratified_sample",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn % 5 = 1
    """,
    description="systematic stratified sampling: every 5th document per "
    "language stratum (deterministic, unlike Bernoulli sampleBy — "
    "reproducible across runs/engines, the property a training-data "
    "pipeline needs for auditable subsets). One shuffle on the stratum "
    "key; at 100 TB swap row_number for a hash-mod filter to avoid the "
    "per-stratum sort.",
    tags=("llm", "sampling"),
)
def d19_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir).documents
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") % 5 == 1)
        .select("doc_id", "lang")
    )


@register(
    "d20_dataset_split",
    oracle="""
    SELECT CASE WHEN substr(md5(text), 1, 1) IN ('c', 'd') THEN 'val'
                WHEN substr(md5(text), 1, 1) IN ('e', 'f') THEN 'test'
                ELSE 'train' END AS split,
           count(*) AS n_docs,
           min(doc_id) AS min_doc_id
    FROM documents
    GROUP BY 1
    """,
    description="content-addressed train/val/test split: bucket by the "
    "first hex digit of md5(text) (12/2/2 of 16) — stable under "
    "re-runs, resharding, and re-ingestion (id-based splits leak when "
    "ids get reassigned); duplicate documents always land in the same "
    "split, so dedup order can't cause train/test contamination.",
    tags=("llm", "sampling", "split"),
)
def d20_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir).documents
    h = F.substring(F.md5("text"), 1, 1)
    split = (
        F.when(h.isin("c", "d"), "val")
        .when(h.isin("e", "f"), "test")
        .otherwise("train")
    )
    return docs.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
    )


@register(
    "d21_embedding_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), scaled AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) AS max_abs
      FROM v
    )
    SELECT vec_id,
           round(max_abs, 6) AS scale,
           CAST(list_sum(list_transform(e,
                x -> floor(x * 127.0 / max_abs + 0.5))) AS BIGINT)
             AS q_checksum,
           len(e) AS dim
    FROM scaled
    """,
    description="int8 symmetric quantization of the embedding column "
    "(per-vector max-abs scale): 4x smaller storage/shuffle for ANN "
    "pipelines. floor(x+0.5) spelled out in BOTH engines so the oracle "
    "is round-mode independent; checksum audits the quantized values. "
    "Pure projection — arrays never leave the JVM.",
    tags=("llm", "similarity", "quantization"),
)
def d21_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir).embeddings
    e = S.as_double_array("embedding")
    max_abs = F.array_max(F.transform(e, lambda x: F.abs(x)))
    return (
        emb.select("vec_id", e.alias("_e"), max_abs.alias("_max_abs"))
        .select(
            "vec_id",
            F.round("_max_abs", 6).alias("scale"),
            F.aggregate(
                F.transform(
                    F.col("_e"),
                    lambda x: F.floor(x * 127.0 / F.col("_max_abs") + 0.5),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("q_checksum"),
            F.size("_e").alias("dim"),
        )
    )


@register(
    "d22_repetition_score",
    oracle=r"""
    WITH toks AS (
      -- '' filtered to mirror text.tokens()
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                    i -> concat_ws(' ', t[i], t[i+1]))) AS g
      FROM toks WHERE len(t) >= 2
    ), freq AS (
      SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
    )
    SELECT doc_id,
           round(max(c) * 1.0 / sum(c), 4) AS top_bigram_frac,
           CAST(sum(c) AS BIGINT) AS n_bigrams
    FROM freq GROUP BY doc_id
    """,
    description="repetition quality filter (Gopher-style): fraction of "
    "the document covered by its most frequent word bigram — "
    "boilerplate/spam detector. Explode bigrams -> per-(doc,gram) "
    "count -> per-doc max/sum; both aggregations map-side combine and "
    "shuffle only (doc, gram-hash, count) tuples.",
    tags=("llm", "text", "quality"),
)
def d22_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kpipe_spark.functions.text import tokens

    docs = load_tables(spark, sf_dir).documents
    # raw (non-distinct) bigrams — word_shingles dedups, and repetition
    # scoring needs the true occurrence counts.
    # tokens projected ONCE per row first: inside the transform lambda
    # an inline tokens(text) re-runs the interpreted split+filter HOF
    # PER ELEMENT (no CSE in interpreted eval — O(n_tokens) splits per
    # row); as a projected column it is a bound reference
    toks = F.col("_tk")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - 2)
    raw_grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, 2), " ")
    )
    grams = (
        ensure_parallelism(docs)
        .select("doc_id", tokens("text").alias("_tk"))
        .filter(n >= 2)
        .select("doc_id", F.explode(raw_grams).alias("_g"))
    )
    freq = grams.groupBy("doc_id", "_g").agg(F.count(F.lit(1)).alias("_c"))
    return freq.groupBy("doc_id").agg(
        F.round(F.max("_c") / F.sum("_c"), 4).alias("top_bigram_frac"),
        F.sum("_c").alias("n_bigrams"),
    )


def d23_candidate_pairs(
    spark: SparkSession,
    sf_dir: str,
    *,
    lsh_threshold: float = 0.45,
    num_tables: int = 8,
) -> DataFrame:
    """d23's candidate DISCOVERY stage, exposed so the coverage test
    can assert the seeded LSH net finds every exact pair on a fixture
    (round-11 ADVICE: the oracle is the exact all-pairs set, so a
    regenerated fixture needs this coverage re-established — run
    tests/test_d23_candidate_coverage.py after any fixture change;
    a loud hash-fail at the driver plus a red coverage test means the
    net missed a boundary pair, not an engine bug). ``lsh_threshold``/
    ``num_tables`` parameterize the net ONLY for that coverage suite's
    regeneration drill (tightening the net on a boundary-pair corpus
    must turn the test red; the registered query always uses the
    shipped 0.45/8 defaults).

    Returns (id_a, id_b, _i, _u): the ordered candidate pairs from the
    seed-fixed MinHashLSH join at the loosened hashed-distance
    threshold, with exact distinct-3-gram intersection and union sizes
    attached — the exact <= 0.3 report filter is the caller's."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, RegexTokenizer

    docs = load_tables(spark, sf_dir).documents
    tok = RegexTokenizer(
        inputCol="text", outputCol="_words", pattern=r"\s+"
    ).transform(ensure_parallelism(docs.filter(F.col("text").isNotNull())))
    grams = (
        NGram(n=3, inputCol="_words", outputCol="_grams")
        .transform(tok)
        .withColumn("_gset", F.array_distinct("_grams"))
        # empty feature vectors (docs under 3 tokens) would fail the
        # LSH fit; they also have no grams to near-dup on either side
        .filter(F.size("_gset") >= 1)
    )
    tf = HashingTF(
        inputCol="_grams", outputCol="_features", numFeatures=1 << 18
    ).transform(grams)
    model = MinHashLSH(
        inputCol="_features",
        outputCol="_hashes",
        numHashTables=num_tables,
        seed=42,
    ).fit(tf)
    pairs = model.approxSimilarityJoin(
        tf, tf, lsh_threshold, distCol="_lsh_dist"
    )
    ga, gb = F.col("datasetA._gset"), F.col("datasetB._gset")
    i = F.size(F.array_intersect(ga, gb))
    u = F.size(ga) + F.size(gb) - i
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            i.alias("_i"),
            u.alias("_u"),
        )
    )


@register(
    "d23_mllib_minhash_join",
    # round-11 (retiring the registry's last no_oracle asterisks): the
    # REPORTED distance is now the exact distinct-3-gram Jaccard
    # (integer algebra both sides), so the result is fully
    # SQL-expressible; MLlib's seed-fixed LSH stays the candidate
    # DISCOVERY mechanism with a loosened 0.45 hashed-distance net and
    # the exact <= 0.3 filter applied after. Oracle = the exact
    # all-pairs set; equality holds because single-minhash OR over 8
    # tables misses a sim>=0.7 pair w.p. (1-s)^8 <= 0.3^8 ~ 7e-5 and
    # the graded fixtures are fixed + seed-fixed (deterministic run to
    # run) — the d05 sentinel argument. Mirrors RegexTokenizer's
    # LOWERCASING and NGram's no-short-doc-fallback (docs under 3
    # tokens produce no grams), which differ from word_shingles.
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS t
      FROM documents WHERE text IS NOT NULL
    ), gr AS (
      SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
             i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS g
      FROM toks WHERE len(t) >= 3
    ), grams AS (
      SELECT DISTINCT doc_id, g FROM gr
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           floor((sa.n + sb.n - 2 * i) * 1.0
                 / (sa.n + sb.n - i) * 10000 + 0.5) / 10000
             AS jaccard_dist
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE 10 * (sa.n + sb.n - 2 * i) <= 3 * (sa.n + sb.n - i)
    """,
    description="MLlib-path near-dup: RegexTokenizer -> NGram(3) -> "
    "HashingTF -> MinHashLSH.approxSimilarityJoin (seed-fixed) finds "
    "the candidate pairs; the reported distance is the EXACT distinct-"
    "3-gram Jaccard over the candidates, thresholded <= 0.3 in integer "
    "algebra (10*(u-i) <= 3*u — no float boundary), so the op is "
    "oracle-gradeable against the exact all-pairs SQL. The built-in "
    "alternative to the custom expression-level MinHash (d05): same "
    "bucketed-join shape under the hood, vectors instead of signature "
    "arrays; the LSH net uses a loosened 0.45 hashed-distance "
    "threshold so hashed-vs-exact drift can't drop a boundary pair.",
    tags=("llm", "dedup", "minhash", "mllib"),
)
def d23_mllib_minhash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kpipe_spark.util import ieee_round

    return (
        d23_candidate_pairs(spark, sf_dir)
        .filter(10 * (F.col("_u") - F.col("_i")) <= 3 * F.col("_u"))
        .select(
            "id_a",
            "id_b",
            ieee_round(
                (F.col("_u") - F.col("_i")) / F.col("_u"), 4
            ).alias("jaccard_dist"),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "d24_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {MINHASH_CTES},
    {COMPONENTS_CTES}
    SELECT cluster_id,
           count(*) AS cluster_size,
           CAST(sum(CASE WHEN id = cluster_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_canonical
    FROM comp
    GROUP BY cluster_id
    HAVING count(*) > 1
    """,
    description="duplicate-cluster assignment: MinHash-LSH candidate "
    "pairs transitively closed into connected components by iterative "
    "min-label propagation (rounds = component diameter; per-round "
    "cost scales with the dup graph, not the corpus). cluster_id = "
    "min doc id; keep-one dedup = filter(is_canonical). The Spark side "
    "iterates (checkpointed label propagation); the oracle reproduces "
    "the fixpoint with a recursive CTE over the same md5-affine "
    "candidate pairs — the iteration is implementation, the component "
    "labeling is the checkable contract.",
    tags=("llm", "dedup", "clustering", "iterative"),
)
def d24_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kpipe_spark.functions.dedup_reports import cluster_stats

    docs = load_tables(spark, sf_dir).documents
    # graded self-contained form: components derived inline; the stored
    # form (ClusterIndex.components_df) feeds the same consumer body
    return cluster_stats(docs, D.dup_components(docs))
