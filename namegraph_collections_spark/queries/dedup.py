"""Deduplication operators (driver brief): exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine near-dup — each as a
declarative DataFrame plan with a DuckDB oracle.

Scale shape: exact dedup is one hash-groupBy; shingle-based methods
explode to (doc, shingle) rows and meet in a shuffle on the shingle —
the classic build for corpora where doc×doc comparison is impossible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from namegraph_collections_spark.queries.registry import (
    REGISTRY,
    register,
    run_parallel,
    spread,
    tbl,
)

NUM_MINHASHES = 16
BAND_SIZE = 4  # 4 bands × 4 rows


# Engine-version-proof 6-decimal rounding — promoted to the shared
# functions/det_round.py module (round 7) so every rounded-double hash
# surface uses one audited implementation; these aliases keep the
# existing call sites unchanged.
from namegraph_collections_spark.functions.det_round import (  # noqa: E402
    round6_det as _round6_det,
    round6_det_sql as _round6_det_sql,
)


@register(
    "exact_dedup_groups",
    oracle="""
    SELECT md5(lower(trim(text))) AS fingerprint,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS dup_count
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) >= 1
    """,
)
def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized text (driver brief).

    One shuffle on the 128-bit fingerprint; min(doc_id) elects the
    canonical representative deterministically. At 100 TB the group-by
    key is the hash (fixed width), never the document body.
    """
    docs = tbl(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def _shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (doc_id, shingle).

    The token array is materialized as a named column BEFORE the
    higher-order transform: subexpression elimination does not reach
    inside lambda bodies, so referencing ``F.split(...)`` directly
    there re-splits the text once per array element — O(tokens²) per
    document. With the named column the split runs once per row.
    """
    toked = spread(docs, "doc_id").select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
    )
    toks = F.col("toks")
    # zip tokens with 1- and 2-shifted copies → word trigrams, JVM-side.
    grams = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0))),
        lambda t, i: F.concat_ws(
            " ", t, F.element_at(toks, i + 2), F.element_at(toks, i + 3)
        ),
    )
    return toked.select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))


#: Shingles with document frequency above this cap are dropped before
#: the inverted-index self-join: ONE stop-phrase shingle shared by 10⁶
#: docs would otherwise meet itself into 10¹² candidate pairs. The cap
#: bounds per-shingle join fan-out at cap², independent of corpus
#: size; Jaccard is computed over the capped shingle universe on both
#: engines (the standard stop-shingle treatment in web-scale dedup).
HOT_SHINGLE_DF_CAP = 50

_SHINGLES_SQL = """
    SELECT doc_id, unnest(list_distinct(
             list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
           )) AS shingle
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
"""


def _jaccard_pairs(docs: DataFrame, threshold: float = 0.1) -> DataFrame:
    """Capped-inverted-index Jaccard pairs over any documents frame
    (exposed separately so tests can drive a skewed fixture)."""
    # No persist(): a persist here has no safe unpersist point and
    # pins executor storage for the rest of the session. And no
    # localCheckpoint either: interleaved same-session A/B at sf0.1
    # measured none/eager/lazy checkpoints EQUAL within noise
    # (2.6–3.1s medians), so the tie-break is the 100 TB argument —
    # the exploded (doc_id, shingle) stream is ~3× the text bytes, so
    # checkpointing it trades three cheap column-pruned parquet scans
    # for hundreds of TB of non-replicated executor-local storage that
    # a lost executor cannot recompute past. Recompute wins; identical
    # shuffle subtrees still dedup via ReusedExchange where they
    # appear.
    sh_all = _shingles(docs)
    # Hot-shingle cap: the blocklist side is tiny by construction (only
    # shingles with df > cap), so the anti-join broadcasts.
    hot = (
        sh_all.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > HOT_SHINGLE_DF_CAP)
        .select("shingle")
    )
    sh = sh_all.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    # Inverted-list pair generation: ONE shuffle groups each shingle's
    # posting list (bounded at HOT_SHINGLE_DF_CAP by the cap above, so
    # aggregation state can't grow unboundedly), then the ≤cap² pairs
    # are emitted MAP-side from the sorted list — no sorted self-join
    # of the full (doc, shingle) stream. The pair stream then meets in
    # one count shuffle. Two exchanges total where the self-join build
    # needed the posting stream shuffled twice plus the pair shuffle.
    lists = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    docs_arr = F.col("docs")
    pair_structs = F.flatten(
        F.transform(
            docs_arr,
            lambda x, i: F.transform(
                F.slice(docs_arr, i + 2, HOT_SHINGLE_DF_CAP),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    inter = (
        lists.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", _round6_det(jac).alias("jaccard"))
    )


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH shingles_all AS ({_SHINGLES_SQL}),
    shingles AS (
      SELECT * FROM shingles_all
      WHERE shingle NOT IN (SELECT shingle FROM shingles_all
                            GROUP BY shingle HAVING COUNT(*) > {HOT_SHINGLE_DF_CAP})
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           {_round6_det_sql('CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common)')}
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) >= 0.1
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (driver brief).

    Candidate generation meets in a shuffle on the shingle (an
    inverted-index join), never doc×doc, and hot shingles above
    ``HOT_SHINGLE_DF_CAP`` are dropped first so no single stop-phrase
    can fan out quadratically. Jaccard from |A∩B| and precomputed set
    sizes over the capped shingle universe.
    """
    return _jaccard_pairs(tbl(spark, sf_dir, "documents"))


SIMHASH_BITS = 64  # 64-bit fingerprints — 16 bits collides everything at scale
SIMHASH_BANDS = 4  # 4 × 16-bit bands for the Hamming candidate stage
SIMHASH_BUCKET_CAP = 4096  # deterministic per-(band, band_val) cap — degenerate-band skew backstop
MAX_HAMMING = 8

#: Hex digits of md5 with bit j set (j = 0..3): bit source for 64
#: independent fingerprint bits — bit p reads bit (p mod 4) of hex
#: digit (p div 4), identically on both engines via substring+IN.
_HEX_BIT_SETS = (
    ("1", "3", "5", "7", "9", "b", "d", "f"),
    ("2", "3", "6", "7", "a", "b", "e", "f"),
    ("4", "5", "6", "7", "c", "d", "e", "f"),
    ("8", "9", "a", "b", "c", "d", "e", "f"),
)


def _simhash_bit_sums(docs: DataFrame) -> DataFrame:
    """DataFrame[doc_id, s0..s63]: per-bit signed occurrence sums.

    Charikar's scheme on token hashes: Σ_tokens tf·(±1) ≡
    Σ_occurrences ±1, so no tf pre-aggregation and no position explode
    are needed — each token occurrence contributes ±1 to all 64
    bit-sums inline, and ONE groupBy(doc_id) with 64 conditional sums
    carries the whole signature. Map-side partial aggregation means
    the only shuffle moves 64 longs per (partition, doc) regardless of
    document size — shuffling fingerprints, never token streams.
    """
    tok = (
        spread(docs, "doc_id")
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .select("doc_id", F.md5("token").alias("h"))
    )
    # Decode the 16 hex digits ONCE into small ints, then read bit
    # (i mod 4) of digit (i div 4) arithmetically. Semantically equal
    # to the substring+IN form the oracle uses, but ~10x less
    # generated code per bit — the substring+IN(8 literals) x 64 agg
    # previously overflowed Janino's 64KB method limit and silently
    # fell back to interpreted execution for the whole aggregate.
    digs = tok.select(
        "doc_id",
        *[
            F.conv(F.substring("h", d + 1, 1), 16, 10).cast("int").alias(f"d{d}")
            for d in range(16)
        ],
    )
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col(f"d{i // 4}"), i % 4).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    return digs.groupBy("doc_id").agg(*bit_sums)


_SIMHASH_BIT_SQL_CASE = f"""
             CASE WHEN p.pos % 4 = 0 THEN substr(h, CAST(p.pos // 4 AS INT) + 1, 1)
                        IN ({", ".join(f"'{d}'" for d in _HEX_BIT_SETS[0])})
                  WHEN p.pos % 4 = 1 THEN substr(h, CAST(p.pos // 4 AS INT) + 1, 1)
                        IN ({", ".join(f"'{d}'" for d in _HEX_BIT_SETS[1])})
                  WHEN p.pos % 4 = 2 THEN substr(h, CAST(p.pos // 4 AS INT) + 1, 1)
                        IN ({", ".join(f"'{d}'" for d in _HEX_BIT_SETS[2])})
                  ELSE substr(h, CAST(p.pos // 4 AS INT) + 1, 1)
                        IN ({", ".join(f"'{d}'" for d in _HEX_BIT_SETS[3])})
             END"""

_SIMHASH_CONTRIB_SQL = f"""
    tok AS (
      SELECT doc_id, token, COUNT(*) AS w, md5(token) AS h
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
      GROUP BY doc_id, token
    ),
    contrib AS (
      SELECT doc_id, p.pos,
             SUM(CASE WHEN {_SIMHASH_BIT_SQL_CASE}
                      THEN w ELSE -w END) AS s
      FROM tok CROSS JOIN (SELECT unnest(range({SIMHASH_BITS})) AS pos) p
      GROUP BY doc_id, p.pos
    )
"""


@register(
    "simhash_neardup_candidates",
    oracle=f"""
    WITH {_SIMHASH_CONTRIB_SQL},
    fp AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN s >= 0 AND pos >= 32
                      THEN CAST(1 AS BIGINT) << CAST(pos - 32 AS INT) ELSE 0 END) AS BIGINT) AS hi,
        CAST(SUM(CASE WHEN s >= 0 AND pos < 32
                      THEN CAST(1 AS BIGINT) << CAST(pos AS INT) ELSE 0 END) AS BIGINT) AS lo
      FROM contrib GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, hi, lo, b.band,
             CASE b.band
               WHEN 0 THEN lo % 65536
               WHEN 1 THEN lo // 65536
               WHEN 2 THEN hi % 65536
               ELSE hi // 65536
             END AS band_val
      FROM fp CROSS JOIN (SELECT unnest(range({SIMHASH_BANDS})) AS band) b
    ),
    capped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY band, band_val ORDER BY doc_id) AS _rn
        FROM bands
      ) WHERE _rn <= {SIMHASH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.hi AS a_hi, a.lo AS a_lo, b.hi AS b_hi, b.lo AS b_lo
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, a_hi, a_lo, b_hi, b_lo,
           CAST(bit_count(xor(a_hi, b_hi)) + bit_count(xor(a_lo, b_lo)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(a_hi, b_hi)) + bit_count(xor(a_lo, b_lo)) <= {MAX_HAMMING}
    """,
)
def simhash_neardup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints + banded Hamming-ball candidates in
    one query (driver brief: SimHash near-dup).

    Fingerprint: bit p is the sign of a signed occurrence sum, where
    each token occurrence contributes ±1 read from bit (p mod 4) of hex
    digit (p div 4) of md5(token) — a bit source both engines compute
    identically. 64 bits (vs a 16-bit toy) keeps the fingerprint space
    at 2⁶⁴ so a 100 TB corpus does not collapse into 65,536 buckets;
    the fingerprint travels as two 32-bit halves so every value stays
    exact in signed int64 on both engines, and the output carries both
    docs' halves so the fingerprint VALUES are driver-checked alongside
    the candidate logic.

    Candidates: the 64-bit fingerprint splits into {SIMHASH_BANDS}
    16-bit bands; by pigeonhole, any pair within Hamming distance
    {SIMHASH_BANDS - 1} shares at least one intact band, so the
    band-equality self-join finds them without any doc×doc work.
    Each (band, band_val) bucket is capped at {SIMHASH_BUCKET_CAP}
    members by deterministic doc_id order — the skew backstop for
    degenerate band values (e.g. the all-zero band every short/empty
    doc lands in), which would otherwise go quadratic; same treatment
    as EMB_BUCKET_CAP on the embedding path. Survivors are filtered to
    true Hamming ≤ {MAX_HAMMING} via xor+popcount (exact, cheap,
    JVM-side).
    """
    fp_bits = _simhash_bit_sums(tbl(spark, sf_dir, "documents"))
    hi = F.lit(0)
    lo = F.lit(0)
    for i in range(32):
        lo = lo + F.when(F.col(f"s{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    for i in range(32, SIMHASH_BITS):
        hi = hi + F.when(F.col(f"s{i}") >= 0, F.lit(1 << (i - 32))).otherwise(F.lit(0))
    fp = fp_bits.select("doc_id", hi.cast("long").alias("hi"), lo.cast("long").alias("lo"))
    band_val = (
        F.when(F.col("band") == 0, F.col("lo") % 65536)
        .when(F.col("band") == 1, F.shiftright("lo", 16))
        .when(F.col("band") == 2, F.col("hi") % 65536)
        .otherwise(F.shiftright("hi", 16))
    )
    bands = (
        fp.crossJoin(
            F.broadcast(
                fp.sparkSession.range(SIMHASH_BANDS).select(F.col("id").cast("int").alias("band"))
            )
        )
        .select("doc_id", "hi", "lo", "band", band_val.cast("long").alias("band_val"))
    )
    w_cap = Window.partitionBy("band", "band_val").orderBy("doc_id")
    capped = (
        bands.withColumn("_rn", F.row_number().over(w_cap))
        .filter(F.col("_rn") <= SIMHASH_BUCKET_CAP)
        .drop("_rn")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.hi").alias("a_hi"),
            F.col("a.lo").alias("a_lo"),
            F.col("b.hi").alias("b_hi"),
            F.col("b.lo").alias("b_lo"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("a_hi").bitwiseXOR(F.col("b_hi"))) + F.bit_count(
        F.col("a_lo").bitwiseXOR(F.col("b_lo"))
    )
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= MAX_HAMMING)
        .select("doc_a", "doc_b", "a_hi", "a_lo", "b_hi", "b_lo", "hamming")
    )


NEARDUP_COSINE = 0.2  # synthetic embeddings are near-orthogonal; low bar keeps rows flowing
N_HYPERPLANES = 16  # sign-bit hyperplanes (3 planes / 8 buckets is O(n²/8) at scale)
EMB_BANDS = 4  # 4 bands × 4 bits — multi-band OR: a pair is a candidate
EMB_BAND_BITS = 4  # if it agrees on ALL bits of ANY band
#: Deterministic per-bucket membership cap. The sf0.1 -> sf1 scaling
#: curve (README, "Measured scaling curve") caught the old 4096 value as a
#: scale defect: 4 bands x 4 bits is only 64 buckets TOTAL, so bucket
#: occupancy is n/16 and candidate volume grows O(n^2/64) until the
#: cap binds — at 4096 that bind point was ~65k vectors and sf1
#: (20k vectors, avg bucket 1250) ran the quadratic regime unchecked
#: (4.2M output pairs, 34x sf0.1 wall on the triangle consumer). 512
#: binds at ~8k vectors and bounds candidates at 64*C(512,2) ~ 8.4M
#: INDEPENDENT of corpus size, while every bucket at the driver
#: scales stays under it (max 150 at sf0.1, 47 at sf0.01 — outputs
#: there are byte-identical). The cap is the backstop, not the design
#: point: at production scale you grow the signature instead —
#: band bits ∝ log2(n) keeps occupancy constant (16 more hyperplanes
#: per 16x corpus growth), exactly how web-scale SimHash/LSH systems
#: size their fingerprints.
EMB_BUCKET_CAP = 512
_EMB_DOT = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@register(
    "embedding_neardup_pairs",
    oracle=f"""
    WITH sig AS (
      SELECT vec_id, b.band,
        {" + ".join(
            f"(CASE WHEN embedding[{EMB_BAND_BITS} * b.band + {j} + 1] >= 0"
            f" THEN {1 << j} ELSE 0 END)"
            for j in range(EMB_BAND_BITS)
        )} AS band_val
      FROM embeddings CROSS JOIN (SELECT unnest(range({EMB_BANDS})) AS band) b
    ),
    capped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY band, band_val ORDER BY vec_id) AS _rn
        FROM sig
      ) WHERE _rn <= {EMB_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id
    ),
    norms AS (
      SELECT vec_id, embedding,
             sqrt({_EMB_DOT.format(a="embedding", b="embedding")}) AS nrm
      FROM embeddings
    ),
    scored AS (
      SELECT vec_a, vec_b, ea.embedding AS emb_a, eb.embedding AS emb_b,
             ea.nrm AS nrm_a, eb.nrm AS nrm_b
      FROM cand
      JOIN norms ea ON ea.vec_id = cand.vec_a
      JOIN norms eb ON eb.vec_id = cand.vec_b
    )
    SELECT vec_a, vec_b,
      {_round6_det_sql(_EMB_DOT.format(a="emb_a", b="emb_b") + ' / (nrm_a * nrm_b)')} AS cosine
    FROM scored
    WHERE {_EMB_DOT.format(a="emb_a", b="emb_b")} / (nrm_a * nrm_b) >= {NEARDUP_COSINE}
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-band sign-bit
    LSH (driver brief).

    {N_HYPERPLANES} sign-bit hyperplanes split into {EMB_BANDS} bands
    of {EMB_BAND_BITS} bits; a pair is a candidate if it matches on
    ALL bits of ANY band (banded OR — high recall without the O(n²/8)
    tail of a single coarse 3-bit bucketing). Each (band, value)
    bucket is capped at {EMB_BUCKET_CAP} members by deterministic
    vec_id order, so one degenerate bucket can never go quadratic.
    Candidates dedup across bands AS ID PAIRS (16 bytes each) — the
    vectors themselves never ride through the band explode, the bucket
    join, or the distinct; they are joined back by id only for the
    surviving pairs. At 100 TB that is the difference between
    shuffling 2×256 B per duplicate candidate and shuffling two longs.
    Dot products are ordered left-to-right double sums via the
    zip_with/aggregate fold (similarity._dot — the codegen-friendly
    form; see README's codegen-cliff note) for oracle-exact
    arithmetic, with per-VECTOR norms precomputed once.
    """
    from namegraph_collections_spark.queries.similarity import _dot as dot

    emb = spread(tbl(spark, sf_dir, "embeddings"), "vec_id")

    def band_val(b: int):
        return sum(
            (
                F.when(
                    F.element_at("embedding", EMB_BAND_BITS * b + j + 1) >= 0,
                    F.lit(1 << j),
                ).otherwise(F.lit(0))
                for j in range(1, EMB_BAND_BITS)
            ),
            F.when(F.element_at("embedding", EMB_BAND_BITS * b + 1) >= 0, F.lit(1)).otherwise(
                F.lit(0)
            ),
        )

    # all band signatures in ONE projection over the vector, then a
    # posexplode of 4 ints — no crossJoin duplicating the embedding
    sig = emb.select(
        "vec_id",
        F.posexplode(F.array(*[band_val(b) for b in range(EMB_BANDS)])).alias(
            "band", "band_val"
        ),
    )
    w_cap = Window.partitionBy("band", "band_val").orderBy("vec_id")
    # NOTE: do NOT localCheckpoint `capped` to dedupe the a/b self-join
    # sides. Measured at sf0.1: the checkpoint makes this query 6.4×
    # SLOWER (6.6s → 42s) — hiding the subplan behind an RDD scan
    # strips the stats Catalyst uses to broadcast the build side and
    # disables the WindowGroupLimit rank-limit pushdown on re-read,
    # and the duplicated subplan was the cheaper price. (Same
    # conclusion as the shingle-stream checkpoints, dropped after
    # measuring them a wash.)
    capped = (
        sig.withColumn("_rn", F.row_number().over(w_cap))
        .filter(F.col("_rn") <= EMB_BUCKET_CAP)
        .drop("_rn")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    # Per-VECTOR norms once (N sqrt-dots), not per candidate PAIR
    # (|pairs| ≫ N): same sqrt-then-multiply arithmetic, 3× less dot
    # work at the pair stage and a 3×-smaller codegen expression.
    vecs = tbl(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    scored = (
        cand.join(
            vecs.select(
                F.col("vec_id").alias("vec_a"),
                F.col("embedding").alias("emb_a"),
                F.col("nrm").alias("nrm_a"),
            ),
            "vec_a",
        ).join(
            vecs.select(
                F.col("vec_id").alias("vec_b"),
                F.col("embedding").alias("emb_b"),
                F.col("nrm").alias("nrm_b"),
            ),
            "vec_b",
        )
    )
    cos = dot(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        scored.withColumn("_cos", cos)
        .filter(F.col("_cos") >= NEARDUP_COSINE)
        .select("vec_a", "vec_b", _round6_det(F.col("_cos")).alias("cosine"))
    )


#: MinHash-LSH candidate pairs as a reusable SQL fragment (expects a
#: `shingles` CTE in scope); shared by `minhash_lsh_candidates` and
#: the cluster-closure oracle in `neardup_clusters`.
#: Universal-hash family prime (largest prime < 2³²). One md5 per
#: shingle yields two independent 32-bit words (h1, h2); minhash s is
#: min over (h1 + (s+1)·h2) mod P — the textbook (a + s·b) family.
#: Versus md5-per-seed this cuts the map-side digest work 16× while
#: keeping both engines bit-identical on integer arithmetic.
MINHASH_PRIME = 4294967291

_MINHASH_BANDS_SQL = f"""
    hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h1,
             CAST('0x' || substr(md5(shingle), 9, 8) AS BIGINT) AS h2
      FROM shingles
    ),
    hashes AS (
      SELECT s.doc_id, seeds.seed,
             MIN((s.h1 + (seeds.seed + 1) * s.h2) % {MINHASH_PRIME}) AS mh
      FROM hashed s CROSS JOIN (SELECT unnest(range({NUM_MINHASHES})) AS seed) seeds
      GROUP BY s.doc_id, seeds.seed
    ),
    bands AS (
      SELECT doc_id, seed // {BAND_SIZE} AS band,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS band_sig
      FROM hashes GROUP BY doc_id, seed // {BAND_SIZE}
    )"""

_MINHASH_PAIRS_SQL = f"""{_MINHASH_BANDS_SQL},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    )
"""


def _minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) MinHash-LSH banding table — the index
    side of every LSH lookup; shared by the all-pairs candidates, the
    cluster closure, and the incremental (new-batch vs corpus) dedup.
    """
    sh = _shingles(docs)
    # All NUM_MINHASHES mins as one groupBy(doc_id) with inline min
    # aggs — no seed explode, no (doc, seed) shuffle: the map side
    # partial-aggregates, so the shuffle carries one fixed-width row
    # per (partition, doc). ONE md5 per shingle feeds the whole
    # (h1 + s·h2) mod P universal family; the 16 mins are then pure
    # integer multiply-adds inside whole-stage codegen.
    hexd = F.md5(F.col("shingle"))
    hashed = sh.select(
        "doc_id",
        F.conv(F.substring(hexd, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(hexd, 9, 8), 16, 10).cast("long").alias("h2"),
    )
    min_cols = [
        F.min(
            (F.col("h1") + F.lit(s + 1) * F.col("h2")) % F.lit(MINHASH_PRIME)
        ).alias(f"mh{s}")
        for s in range(NUM_MINHASHES)
    ]
    hashes = hashed.groupBy("doc_id").agg(*min_cols)
    band_sigs = [
        F.md5(
            F.concat_ws(
                ",",
                *[F.col(f"mh{s}").cast("string") for s in range(b * BAND_SIZE, (b + 1) * BAND_SIZE)],
            )
        ).alias(f"b{b}")
        for b in range(NUM_MINHASHES // BAND_SIZE)
    ]
    n_bands = NUM_MINHASHES // BAND_SIZE
    stack_args = ", ".join(f"{b}, b{b}" for b in range(n_bands))
    return hashes.select("doc_id", *band_sigs).selectExpr(
        "doc_id", f"stack({n_bands}, {stack_args}) AS (band, band_sig)"
    )


def _minhash_pairs(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b) via MinHash banding —
    the plan behind `minhash_lsh_candidates`, exposed for reuse by the
    cluster-closure query."""
    return _minhash_pairs_from(_minhash_bands(docs))


def _minhash_pairs_from(bands: DataFrame) -> DataFrame:
    """Pair generation over an ALREADY-BUILT bands table — the sharing
    seam for composites that reuse one banding build across legs
    (lexical_dedup_battery feeds the incremental probe and the
    representative closure from one `_minhash_bands` call)."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@register(
    "minhash_lsh_candidates",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    {_MINHASH_PAIRS_SQL}
    SELECT doc_a, doc_b FROM pairs
    """,
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding candidate pairs (driver brief).

    shingle → {NUM_MINHASHES} seeded min-hashes → {NUM_MINHASHES // BAND_SIZE}
    band signatures → bucket join. Deterministic md5 min-hashing keeps
    the DuckDB oracle bit-identical. At scale the only doc×doc work is
    within LSH buckets — the standard sub-quadratic near-dup build.
    """
    return _minhash_pairs(tbl(spark, sf_dir, "documents"))


@register(
    "neardup_clusters",
    oracle=f"""
    WITH RECURSIVE shingles AS ({_SHINGLES_SQL}),
    {_MINHASH_PAIRS_SQL},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
    sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
    SELECT c.doc_id, c.cluster_id, s.cluster_size,
           (c.doc_id = c.cluster_id) AS is_canonical
    FROM comp c JOIN sizes s USING (cluster_id)
    """,
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash-LSH candidate pairs closed
    into connected components, one canonical doc per cluster (driver
    brief — the keep/drop decision a dedup pipeline actually ships).

    Pairs alone mishandle transitivity (A~B, B~C ⇒ one cluster even
    if (A,C) never met in a band); the component closure runs
    alternating large-star/small-star (`operators.components`) —
    O(log² n) shuffle rounds on any graph shape, vs O(diameter) for
    plain label propagation — and every document (including
    singletons) gets a cluster id, so `is_canonical` IS the keep
    filter. The oracle closes the same edge set with a recursive CTE.
    """
    from namegraph_collections_spark.operators.components import connected_components

    docs = tbl(spark, sf_dir, "documents")
    comp = connected_components(
        _minhash_pairs(docs), vertices=docs.select("doc_id")
    ).select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# Dedup cluster-size statistics: the corpus-health histogram every
# dedup run reports (how many pairs/clusters, how much would be
# removed) — computed from the cluster table, one row per observed
# cluster size.
# ---------------------------------------------------------------------------
@register(
    "dedup_cluster_stats",
    # REGISTRY lookup is safe here: neardup_clusters registers above
    # in this module (component oracle embedded verbatim).
    oracle=f"""
    WITH nc AS ({REGISTRY["neardup_clusters"].oracle}),
    canon AS (SELECT cluster_size FROM nc WHERE is_canonical)
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_removable
    FROM canon GROUP BY cluster_size
    """,
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over the near-dup components: per
    observed cluster size, how many clusters exist, how many documents
    they hold, and how many a keep-one-per-cluster policy would remove
    (`n_removable` summed over rows IS the dedup ratio's numerator —
    the number every dedup run reports).

    Scale shape: one canonical row per cluster feeds a partial-
    aggregated groupBy on the (tiny) size key — negligible on top of
    the components build it summarizes. The battery form shares the
    already-built cluster frame via ``dedup_cluster_stats_from``.
    """
    return dedup_cluster_stats_from(neardup_clusters(spark, sf_dir))


def dedup_cluster_stats_from(clusters: DataFrame) -> DataFrame:
    """The histogram over an ALREADY-BUILT cluster table — either the
    per-doc form ((doc_id, cluster_id, cluster_size, is_canonical),
    reduced to its canonical rows) or a one-row-per-cluster frame that
    carries ``cluster_size`` (neardup_representatives' output) — the
    sharing seam for composites that reuse one components closure
    across legs."""
    if "is_canonical" in clusters.columns:
        clusters = clusters.filter(F.col("is_canonical"))
    return (
        clusters
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            F.expr("CAST(cluster_size * n_clusters AS BIGINT)").alias("n_docs"),
            F.expr("CAST((cluster_size - 1) * n_clusters AS BIGINT)").alias(
                "n_removable"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Passage-level (sub-document) dedup: the C4/RefinedWeb-style pass
# that document-level dedup misses — boilerplate spans repeated
# ACROSS otherwise-distinct documents (license headers, navigation
# text, templated intros). Documents chunk into fixed-width
# non-overlapping token passages; a passage occurring in more than
# one document is reported with its spread.
# ---------------------------------------------------------------------------
PASSAGE_W = 4  # tokens per passage (matches this corpus's dup density)


@register(
    "passage_dedup",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents
    ),
    passages AS (
      SELECT doc_id,
             unnest(list_transform(range(0, len(ts) // {PASSAGE_W}),
                    i -> array_to_string(
                           list_slice(ts, i*{PASSAGE_W}+1, i*{PASSAGE_W}+{PASSAGE_W}),
                           ' '))) AS passage
      FROM toked
    )
    SELECT md5(passage) AS passage_hash, passage,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS first_doc_id
    FROM passages
    GROUP BY passage
    HAVING COUNT(*) > 1 AND COUNT(DISTINCT doc_id) > 1
    """,
)
def passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated passages: non-overlapping
    {PASSAGE_W}-token chunks that occur in more than one document
    (count, distinct-doc spread, first carrier).

    Scale shape: chunking is a pure column program (split → slice loop
    via transform — no UDF); the only shuffle is the passage groupBy,
    and partial aggregation collapses repeated passages map-side
    before the exchange — precisely the rows this query exists to
    find, so the shuffle carries the DISTINCT passage set, not the
    corpus. In production the passage hash replaces the passage text
    on the wire (both ship here because the oracle checks the text);
    removal then semi-joins docs against the flagged hashes.
    """
    docs = spread(tbl(spark, sf_dir, "documents"), "doc_id")
    toked = docs.select("doc_id", F.split(F.lower("text"), " ").alias("ts"))
    ts = F.col("ts")
    n_chunks = F.floor(F.size(ts) / PASSAGE_W)
    # sequence(0, -1) would generate a DESCENDING [0, -1] for docs
    # shorter than one passage — guard to an empty array instead.
    chunk_idx = F.when(
        n_chunks >= 1, F.sequence(F.lit(0).cast("long"), n_chunks - 1)
    ).otherwise(F.array().cast("array<long>"))
    passages = toked.select(
        "doc_id",
        F.explode(
            F.transform(
                chunk_idx,
                lambda i: F.concat_ws(
                    " ", F.slice(ts, (i * PASSAGE_W + 1).cast("int"), PASSAGE_W)
                ),
            )
        ).alias("passage"),
    )
    return (
        passages.groupBy("passage")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter((F.col("n_occurrences") > 1) & (F.col("n_docs") > 1))
        .select(
            F.md5("passage").alias("passage_hash"),
            "passage",
            "n_occurrences",
            "n_docs",
            "first_doc_id",
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF weighted cosine near-dup: the soft-weighted sibling of
# ngram_jaccard_pairs. Jaccard treats every shared shingle equally; a
# rare shared shingle is far stronger duplication evidence than a
# common one, and idf-weighted cosine is the standard way to say so
# (same sparse-vector scoring family as BM25, applied doc-to-doc).
# ---------------------------------------------------------------------------
TFIDF_DF_CAP = 50  # same hot-shingle treatment as HOT_SHINGLE_DF_CAP
TFIDF_MIN_COS = 0.25

_TFIDF_SH0_SQL = """
    SELECT doc_id, shingle, COUNT(*) AS tf FROM (
      SELECT doc_id, unnest(
               list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ) AS shingle
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
    ) GROUP BY doc_id, shingle
"""


@register(
    "tfidf_cosine_pairs",
    oracle=f"""
    WITH sh0 AS MATERIALIZED ({_TFIDF_SH0_SQL}),
    dft AS (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY 1),
    w AS MATERIALIZED (
      SELECT s.doc_id, s.shingle, dft.df,
             CAST(floor((s.tf * (floor(ln(1 + (SELECT CAST(COUNT(*) AS DOUBLE)
                                              FROM documents) / dft.df)
                                       * 1000000 + 0.5) / 1000000.0))
                        * 1000000 + 0.5) / 1000000.0
                  AS DECIMAL(18,6)) AS w
      FROM sh0 s JOIN dft USING (shingle)
    ),
    norms AS (SELECT doc_id, sqrt(CAST(SUM(w*w) AS DOUBLE)) AS nrm FROM w GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      WHERE a.df <= {TFIDF_DF_CAP} AND b.df <= {TFIDF_DF_CAP}
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           {_round6_det_sql('CAST(dot AS DOUBLE) / (na.nrm * nb.nrm)')} AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) >= {TFIDF_MIN_COS}
    """,
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs with idf-weighted shingle-cosine >= {TFIDF_MIN_COS}:
    tf-idf sparse vectors over word trigrams, dot products via the same
    capped posting-list pattern as ngram_jaccard_pairs.

    Determinism: idf and w = tf*idf are rounded with the
    IEEE-deterministic floor form (:func:`_round6_det`) — including the
    intermediate weight, closing the previously-documented residual
    engine-ROUND tie risk — then cast DECIMAL(18,6), so dots and
    squared norms sum EXACTLY in decimal on both engines; the single
    double division happens last and uses the same floor form, not
    engine ROUND. Hot shingles (df > {TFIDF_DF_CAP}) are
    excluded from MATCHING (bounding every posting list, hence every
    pair fan-out, at cap²) but kept in the norms — the standard
    stop-term treatment; scores are conservative, never inflated.

    Scale shape: tf and df are two partial-aggregated groupBys; the
    pair stream is emitted map-side from each (bounded) posting list
    — one shuffle to group lists, one to sum dots — and the norm
    joins key on doc_id. No all-pairs stage anywhere.
    """
    docs = tbl(spark, sf_dir, "documents")
    toked = spread(docs, "doc_id").select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
    )
    toks = F.col("toks")
    grams = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda t, i: F.concat_ws(
            " ", t, F.element_at(toks, i + 2), F.element_at(toks, i + 3)
        ),
    )
    sh0 = (
        toked.select("doc_id", F.explode(grams).alias("shingle"))
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = sh0.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ndocs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    w = (
        sh0.join(dft, "shingle")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            "shingle",
            "df",
            _round6_det(
                F.col("tf") * _round6_det(F.log(1 + F.col("n_docs") / F.col("df")))
            )
            .cast("decimal(18,6)")
            .alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nrm")
    )
    lists = (
        w.filter(F.col("df") <= TFIDF_DF_CAP)
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "w"))).alias("posts"))
        .filter(F.size("posts") > 1)
    )
    posts = F.col("posts")
    pair_structs = F.flatten(
        F.transform(
            posts,
            lambda x, i: F.transform(
                F.slice(posts, i + 2, TFIDF_DF_CAP),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    (x["w"] * y["w"]).alias("p"),
                ),
            ),
        )
    )
    dots = (
        lists.select(F.explode(pair_structs).alias("pr"))
        .groupBy(F.col("pr.doc_a").alias("doc_a"), F.col("pr.doc_b").alias("doc_b"))
        .agg(F.sum("pr.p").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    cos = F.col("dot").cast("double") / (F.col("na") * F.col("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= TFIDF_MIN_COS)
        .select("doc_a", "doc_b", _round6_det(cos).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Incremental (new-batch vs corpus) dedup: the shape production dedup
# actually runs daily. Re-running all-pairs LSH over corpus+batch
# costs O(corpus) every day; the incremental form probes the NEW
# batch's band signatures against the standing index and verifies
# only new x old candidates with exact Jaccard. The synthetic "new
# batch" is a deterministic slice (doc_id % 10 == NEW_BATCH_MOD) so
# both engines agree on membership.
# ---------------------------------------------------------------------------
NEW_BATCH_MOD = 7


@register(
    "incremental_minhash_dedup",
    oracle=f"""
    WITH shingles AS MATERIALIZED ({_SHINGLES_SQL}),
    {_MINHASH_BANDS_SQL},
    cand AS (
      SELECT DISTINCT n.doc_id AS new_doc, o.doc_id AS old_doc
      FROM bands n JOIN bands o
        ON n.band = o.band AND n.band_sig = o.band_sig
      WHERE n.doc_id % 10 = {NEW_BATCH_MOD} AND o.doc_id % 10 <> {NEW_BATCH_MOD}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY 1),
    inter AS (
      SELECT c.new_doc, c.old_doc, COUNT(b.shingle) AS n_common
      FROM cand c
      JOIN shingles a ON a.doc_id = c.new_doc
      JOIN shingles b ON b.doc_id = c.old_doc AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT c.new_doc, c.old_doc,
           {_round6_det_sql('''CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - COALESCE(i.n_common, 0))''')} AS jaccard,
           (CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - COALESCE(i.n_common, 0))) >= 0.1 AS is_dup
    FROM cand c
    LEFT JOIN inter i ON i.new_doc = c.new_doc AND i.old_doc = c.old_doc
    JOIN sizes sa ON sa.doc_id = c.new_doc
    JOIN sizes sb ON sb.doc_id = c.old_doc
    """,
)
def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a new batch against the standing corpus index: the
    batch's MinHash band signatures probe the index (equi-join on
    (band, band_sig) — an index LOOKUP, not an all-pairs LSH rerun);
    every new x old candidate is then verified with exact shingle
    Jaccard and flagged ``is_dup`` at the 0.1 threshold. Candidates
    that fail verification ship too (with their true Jaccard) — the
    false-positive rate of the index is part of the answer.

    Scale shape: at 100 TB the ``bands`` table for the corpus is a
    PERSISTED index (bucketed by (band, band_sig)); the daily job
    computes bands only for the batch (O(batch)), joins — co-located
    if the batch side is bucketed the same way — and the Jaccard
    verification touches only candidate docs' shingles via semi-join
    pruning. Nothing rescans the corpus text. Here both sides derive
    from one table split deterministically so the oracle can replay
    membership exactly.
    """
    docs = tbl(spark, sf_dir, "documents")
    return incremental_minhash_dedup_from(docs, _minhash_bands(docs))


def incremental_minhash_dedup_from(docs: DataFrame, bands: DataFrame) -> DataFrame:
    """The probe+verify over an ALREADY-BUILT bands table (sharing
    seam — see `_minhash_pairs_from`). Note `bands` is referenced
    twice below (index side, batch side); pass a checkpointed frame
    when the build is expensive."""
    is_new = F.col("doc_id") % 10 == NEW_BATCH_MOD
    new_b = bands.filter(is_new).select(
        F.col("doc_id").alias("new_doc"), "band", "band_sig"
    )
    old_b = bands.filter(~is_new).select(
        F.col("doc_id").alias("old_doc"), "band", "band_sig"
    )
    cand = (
        new_b.join(old_b, ["band", "band_sig"])
        .select("new_doc", "old_doc")
        .distinct()
    )
    sh = _shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # candidate-restricted verification: shingles join shingles ONLY
    # through the candidate pair list, never corpus x corpus
    sh_new = sh.select(F.col("doc_id").alias("new_doc"), "shingle")
    sh_old = sh.select(F.col("doc_id").alias("old_doc"), "shingle")
    inter = (
        cand.join(sh_new, "new_doc")
        .join(sh_old, ["old_doc", "shingle"])
        .groupBy("new_doc", "old_doc")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("new_doc"), F.col("n_sh").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("old_doc"), F.col("n_sh").alias("sb"))
    jac = F.coalesce(F.col("n_common"), F.lit(0)).cast("double") / (
        F.col("sa") + F.col("sb") - F.coalesce(F.col("n_common"), F.lit(0))
    )
    return (
        cand.join(inter, ["new_doc", "old_doc"], "left")
        .join(sa, "new_doc")
        .join(sb, "old_doc")
        .select(
            "new_doc",
            "old_doc",
            _round6_det(jac).alias("jaccard"),
            (jac >= 0.1).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
# "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
# 2003 — the classic rolling-hash fingerprint selection MOSS uses; a
# textbook public algorithm, nothing like it in the reference). Where
# MinHash summarizes GLOBAL document similarity, winnowing guarantees
# LOCAL coverage: any shared substring of length >= W + K - 1 words
# contributes at least one identical selected fingerprint, which is
# what makes the fingerprints usable for partial-overlap / quotation
# detection, not just whole-document near-dup.
# ---------------------------------------------------------------------------
WINNOW_K = 3  # k-gram length (words)
WINNOW_W = 4  # window: every W consecutive k-grams yield >= 1 fingerprint

#: Position packing: key = hash * 2^16 + (65535 - pos). Minimizing the
#: key minimizes (hash, -pos) lexicographically — i.e. robust
#: winnowing's "rightmost minimal hash per window" rule — with ONE
#: integer min, so both engines pick identical fingerprints with no
#: tie-rule or struct-ordering exposure. hash is 32 bits (md5 prefix),
#: so key < 2^48; positions are corpus-doc word offsets << 2^16.
_POS_PACK = 65536


@register(
    "winnowing_fingerprints",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, pg.pos AS pos, pg.gram AS gram FROM (
        SELECT doc_id, unnest(
                 list_transform(range(1, greatest(len(t) - {WINNOW_K - 1}, 0) + 1),
                                i -> struct_pack(pos := i,
                                                 gram := t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
               ) AS pg
        FROM toked
      )
    ),
    keyed AS (
      SELECT doc_id, pos,
             CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) * {_POS_PACK}
               + ({_POS_PACK - 1} - pos) AS key
      FROM grams
    ),
    wins AS (
      SELECT doc_id, pos,
             MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS wmin,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_pos
      FROM keyed
    )
    SELECT DISTINCT doc_id,
           wmin // {_POS_PACK} AS fp,
           {_POS_PACK - 1} - (wmin % {_POS_PACK}) AS fp_pos
    FROM wins
    WHERE pos <= greatest(n_pos - {WINNOW_W - 1}, 1)
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selected (doc_id, fp, fp_pos) winnowing fingerprints: 32-bit
    rolling hashes of word {WINNOW_K}-grams, the rightmost minimum of
    every {WINNOW_W}-hash window kept (see the section comment for the
    packed-key encoding of the rightmost-min rule). Expected selected
    density 2/(W+1) ~ 0.4 of positions; docs shorter than one window
    keep their single whole-doc minimum (the WHERE's greatest(_, 1)).

    Scale shape: one corpus scan exploding positional k-grams, then a
    per-document window — partitioned on doc_id, frame bounded at
    {WINNOW_W} rows — and a distinct keyed on (doc_id, fp). Nothing is
    global: state per key is O(doc length), the same bound as the
    shingle operators, and the output is ~0.4 fingerprint rows per
    corpus word. Matching (find docs sharing fingerprints) reuses the
    capped inverted-index pattern of the other dedup ops downstream.
    """
    return _winnow(tbl(spark, sf_dir, "documents"))


def _winnow(docs: DataFrame) -> DataFrame:
    """Winnowing over any DataFrame[doc_id, text] (exposed separately so
    property tests can drive synthetic overlap fixtures)."""
    toked = spread(docs, "doc_id").select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
    )
    toks = F.col("toks")
    grams = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - (WINNOW_K - 1), F.lit(0))),
        lambda t, i: F.concat_ws(
            " ", t, F.element_at(toks, i + 2), F.element_at(toks, i + 3)
        ),
    )
    g = toked.select("doc_id", F.posexplode(grams).alias("pos0", "gram"))
    keyed = g.select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        (
            F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long")
            * F.lit(_POS_PACK)
            + (F.lit(_POS_PACK - 1) - (F.col("pos0") + 1))
        ).alias("key"),
    )
    w_min = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    w_cnt = Window.partitionBy("doc_id")
    wins = keyed.select(
        "doc_id",
        "pos",
        F.min("key").over(w_min).alias("wmin"),
        F.count(F.lit(1)).over(w_cnt).alias("n_pos"),
    )
    return (
        wins.filter(
            F.col("pos") <= F.greatest(F.col("n_pos") - (WINNOW_W - 1), F.lit(1))
        )
        .select(
            "doc_id",
            F.expr(f"wmin div {_POS_PACK}").alias("fp"),
            (F.lit(_POS_PACK - 1) - F.expr(f"wmin % {_POS_PACK}")).alias("fp_pos"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# LSH tuning evaluation — measures the MinHash banding's s-curve
# against exact n-gram Jaccard truth, the evidence that picks
# (NUM_MINHASHES, BAND_SIZE) for a deployment. With b bands of r rows
# the candidate probability is 1-(1-s^r)^b (Leskovec/Rajaraman/Ullman
# ch. 3); the eval reports the realized recall per truth-similarity
# tier plus the candidate set's precision, so a 100 TB operator reads
# off exactly where the current banding's threshold sits instead of
# trusting the formula.
# ---------------------------------------------------------------------------

#: Truth-similarity tiers (exact Jaccard, micro-units) at which the
#: banding's recall is reported. The lowest tier equals the exact
#: pair query's own floor.
LSH_EVAL_TIERS = (100_000, 300_000, 500_000, 700_000)


@register(
    "lsh_tuning_eval",
    # Embeds BOTH component oracles verbatim (battery construction
    # rule): the eval can never drift from the truth set or the
    # candidate generator it measures.
    oracle=f"""
    WITH truth AS MATERIALIZED (
      SELECT doc_a, doc_b,
             CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT) AS j_micro
      FROM ({REGISTRY["ngram_jaccard_pairs"].oracle})
    ),
    cand AS MATERIALIZED (
      SELECT doc_a, doc_b, 1 AS hit
      FROM ({REGISTRY["minhash_lsh_candidates"].oracle})
    ),
    tc AS (
      SELECT t.j_micro, COALESCE(c.hit, 0) AS hit
      FROM truth t LEFT JOIN cand c USING (doc_a, doc_b)
    ),
    tiers AS (SELECT unnest(ARRAY{list(LSH_EVAL_TIERS)}) AS thr_micro),
    rec AS (
      SELECT 'recall' AS metric, tiers.thr_micro,
             CAST(SUM(tc.hit) AS BIGINT) AS n_hit,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM tc JOIN tiers ON tc.j_micro >= tiers.thr_micro
      GROUP BY tiers.thr_micro
    ),
    prec AS (
      SELECT 'precision' AS metric,
             CAST({LSH_EVAL_TIERS[0]} AS BIGINT) AS thr_micro,
             CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM cand c LEFT JOIN truth t USING (doc_a, doc_b)
    )
    SELECT metric, thr_micro, n_hit, n_pairs,
           CASE WHEN n_pairs > 0
                THEN CAST((n_hit * 1000000 + n_pairs // 2) // n_pairs AS BIGINT)
                ELSE CAST(NULL AS BIGINT) END AS value_micro
    FROM (SELECT * FROM rec UNION ALL SELECT * FROM prec)
    """,
)
def lsh_tuning_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH candidate stage per exact-Jaccard
    tier, plus the candidate set's precision against the lowest tier
    — (metric, thr_micro, n_hit, n_pairs, value_micro) with the ratio
    in exact round-half-up micro-units. With {NUM_MINHASHES // BAND_SIZE}
    bands x {BAND_SIZE} rows the formula threshold sits near
    (1/b)^(1/r); the realized tier recalls show where it ACTUALLY
    sits on this corpus, which is what you re-tune banding from.

    Scale shape: the truth side is the df-capped exact-Jaccard pair
    query (never all-pairs) and the candidate side is the banding
    bucket join — both already audited; the eval adds one slim
    (doc_a, doc_b)-keyed join between two pair lists and a
    4-row-tier broadcast rollup. At 100 TB you run it on a sampled
    shard: both component programs are content-addressed, so the
    sample is reproducible.
    """
    # localCheckpoint: truth and cand each feed BOTH the recall and
    # the precision legs — without the cut each leg replays the full
    # shingle/banding build (the battery-wide ReusedExchange finding;
    # measured 16.8s -> 5.7s at sf0.1). The two sides are independent
    # subtrees, so they checkpoint from the §2.6 thread pool.
    truth = ngram_jaccard_pairs(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        F.expr("CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT)").alias("j_micro"),
    )
    cand = minhash_lsh_candidates(spark, sf_dir).withColumn("hit", F.lit(1))
    truth_ck, cand_ck = run_parallel(
        spark,
        lambda: truth.localCheckpoint(eager=False),
        lambda: cand.localCheckpoint(eager=False),
    )
    return lsh_tuning_eval_from(truth_ck, cand_ck)


def lsh_tuning_eval_from(truth: DataFrame, cand: DataFrame) -> DataFrame:
    """The eval over ALREADY-BUILT (and caller-checkpointed) truth
    (doc_a, doc_b, j_micro) and candidate (doc_a, doc_b, hit) pair
    frames — the sharing seam lexical_dedup_battery uses to ride its
    ONE banding build for the candidate side instead of a second
    shingle+minhash pass."""
    spark = truth.sparkSession
    tc = (
        truth.join(cand, ["doc_a", "doc_b"], "left")
        .select("j_micro", F.coalesce(F.col("hit"), F.lit(0)).alias("hit"))
    )
    tiers = spark.createDataFrame(
        [(t,) for t in LSH_EVAL_TIERS], "thr_micro long"
    )
    rec = (
        tc.join(F.broadcast(tiers), F.col("j_micro") >= F.col("thr_micro"))
        .groupBy("thr_micro")
        .agg(
            F.sum("hit").cast("long").alias("n_hit"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
        .select(F.lit("recall").alias("metric"), "thr_micro", "n_hit", "n_pairs")
    )
    prec = (
        cand.join(truth, ["doc_a", "doc_b"], "left")
        .agg(
            F.sum(F.expr("CASE WHEN j_micro IS NOT NULL THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_hit"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
        .select(
            F.lit("precision").alias("metric"),
            F.lit(LSH_EVAL_TIERS[0]).cast("long").alias("thr_micro"),
            "n_hit",
            "n_pairs",
        )
    )
    return rec.unionByName(prec).selectExpr(
        "metric",
        "thr_micro",
        "n_hit",
        "n_pairs",
        "CASE WHEN n_pairs > 0"
        " THEN CAST((n_hit * 1000000L + n_pairs div 2) div n_pairs AS BIGINT)"
        " ELSE CAST(NULL AS BIGINT) END AS value_micro",
    )
