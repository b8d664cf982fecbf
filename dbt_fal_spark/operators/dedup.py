"""Deduplication operators over the ``documents`` table.

Training-data pipeline surface (build brief): exact dedup, n-gram
Jaccard, MinHash+LSH, SimHash. The reference has no dedup at all; the
closest prior art is dbt's ``dropDuplicates``-style distinct, which is
nondeterministic about which copy survives — every operator here keeps
``min(doc_id)`` so reruns are stable.

Determinism across engines (the oracle gate): all hashing is md5-based
(identical hex in Spark and DuckDB); the first 8 hex chars become a
32-bit integer (Spark ``conv(hex,16,10)``, DuckDB ``('0x'||hex)::BIGINT``),
and all arithmetic stays in BIGINT modular math — no floats anywhere in
a hash path.

Scale notes (100 TB design):
- Exact dedup = hash groupBy on content digest → one shuffle of digests,
  not documents.
- Jaccard pair generation joins on shared shingles. At scale, cap
  frequent shingles first (drop shingles appearing in > K docs — they
  generate K² candidate pairs and carry no signal); the LSH variant
  replaces the shingle join entirely with a 4-row band-signature join,
  which is the only approach whose candidate count stays ~linear.
- SimHash reduces each doc to one int64; near-dup detection becomes a
  band-equality self-join on 4 byte-slices — no pair explosion.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dbt_fal_spark.operators.similarity import FINITE_EMB
from dbt_fal_spark.registry import query
from dbt_fal_spark.sources.readers import load_table, load_table_fresh, spread

# ---------------------------------------------------------------------------
# Shared deterministic constants
# ---------------------------------------------------------------------------

MERSENNE_P = 2147483647  # 2^31 - 1

def _perm_params(n: int) -> list[tuple[int, int]]:
    """n fixed (a, b) pairs for universal hashing, derived from md5 so the
    list is reproducible from the source alone (no RNG state)."""
    out = []
    for i in range(n):
        a = int(hashlib.md5(f"minhash-a-{i}".encode()).hexdigest()[:8], 16) % (MERSENNE_P - 1) + 1
        b = int(hashlib.md5(f"minhash-b-{i}".encode()).hexdigest()[:8], 16) % MERSENNE_P
        out.append((a, b))
    return out


N_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS
PERMS = _perm_params(N_PERM)

# 3-gram shingle extraction, kept textually parallel in both engines.
# Scale caps (mirrored in every oracle, so they are part of the defined
# semantics, not a silent truncation): a shingle present in > SHINGLE_DOC_CAP
# docs contributes O(cap^2) near-noise pairs to the exact-Jaccard join, and an
# LSH bucket with > LSH_BUCKET_CAP members is a degenerate dup-cluster whose
# pairs are better handled by exact dedup / connected components. Both caps
# only ever REMOVE candidate pairs (Jaccard numerators can only shrink), so
# capped output is a subset of uncapped output — tests/test_dedup_caps.py.
SHINGLE_DOC_CAP = 64
LSH_BUCKET_CAP = 64

_ORACLE_SHINGLES = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    idx AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i FROM toks),
    sh AS (SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS sh FROM idx)
"""


# DuckDB expression for "md5-based 32-bit hash of column sh" (the Spark
# side hashes inside transform() lambdas — see _minhash_sig / d_simhash).
_ORACLE_H32 = "('0x' || substr(md5(sh), 1, 8))::BIGINT"


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

@query(
    "d_exact_dedup",
    oracle="""
    SELECT md5(lower(replace(text, ' ', ''))) AS content_key,
           min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies,
           min(n_chars) AS n_chars
    FROM documents
    GROUP BY md5(lower(replace(text, ' ', '')))
    """,
    tags=("dedup",),
)
def d_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a normalized content digest. Deterministic keeper
    (min doc_id) — unlike dropDuplicates, reruns always pick the same
    survivor. Only digests shuffle, never document bodies."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.lower(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
    return docs.groupBy(key.alias("content_key")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup
# ---------------------------------------------------------------------------

@query(
    "d_ngram_jaccard_pairs",
    oracle=f"""
    WITH {_ORACLE_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    rare AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= {SHINGLE_DOC_CAP}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      JOIN rare r ON r.sh = a.sh
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_shared,
           sa.n AS size_a, sb.n AS size_b,
           CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.5
    """,
    tags=("dedup", "jaccard"),
)
def d_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard ≥ 0.5.

    shingle → doc-frequency cap → self-join on shared shingle → count →
    Jaccard from set sizes. Integer counts divide once at the end, so the
    score is engine-exact. Shingles in > SHINGLE_DOC_CAP docs are dropped
    before the join (each would contribute O(cap^2) noise pairs — the one
    real quadratic blowup at 100 TB); d_minhash_lsh_pairs is the
    subquadratic path.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Shingle extraction + hashing in ONE Arrow-batched mapInPandas stage:
    # set-of-triples per doc in Python, then pandas' vectorized siphash
    # (hash_array — fixed key, deterministic across workers) gives the
    # 64-bit join key. Measured ~3× faster than the expression-level
    # build (slice/concat_ws inside transform() run interpreted — higher-
    # order-function lambdas are outside whole-stage codegen). Joining on
    # the 8-byte hash, not the ~20-byte string, keeps the shuffle narrow;
    # collision odds over ~10^6 distinct shingles are ~(n²/2^65) ≈ 10⁻⁷ —
    # far below the synthetic-data noise floor; the sf0.01 oracle gate
    # still compares against the exact string join.
    # The per-doc set size rides along each exploded row (known map-side
    # from the set), so no separate sizes aggregate and no join back
    # after the pair count.
    # Persist (both join sides), hash-partitioned on the join key: the
    # self-join inherits this partitioning (no re-exchange), so the
    # quadratic candidate-pair stage runs at least 16 wide even when the
    # session's shuffle width is narrower.
    def gen(batches):
        # nested + self-contained: executors cannot import dbt_fal_spark
        import pandas as pd

        for pdf in batches:
            ids, ns, shs = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:  # null text: excluded, matching split(NULL) SQL semantics
                    continue
                w = text.split(" ")
                if len(w) < 3:
                    continue
                uniq = {" ".join(t) for t in zip(w, w[1:], w[2:])}
                ids.extend([doc_id] * len(uniq))
                ns.extend([len(uniq)] * len(uniq))
                shs.extend(uniq)
            out = pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n": pd.Series(ns, dtype="int64"),
                }
            )
            out["sh"] = pd.util.hash_array(
                pd.Index(shs).to_numpy(dtype=object)
            ).astype("int64")
            yield out

    # pair-stage width: at least 16 (measured best at small files), or
    # the session's shuffle-partition conf when that is wider, so the
    # quadratic candidate stage runs cluster-wide on a wide session
    width = max(16, int(spark.conf.get("spark.sql.shuffle.partitions", "16")))
    sh = (
        spread(docs.select("doc_id", "text"))
        .mapInPandas(gen, schema="doc_id long, n long, sh long")
        .repartition(width, "sh")
        .persist()
    )
    # Frequent-shingle cap: a shingle in > SHINGLE_DOC_CAP docs would emit
    # O(cap^2) pairs of pure noise (stopword-like 3-grams at corpus scale).
    # The doc-frequency window reuses the existing hash partitioning on sh
    # (no second exchange); sizes (a.n/b.n) stay the TRUE per-doc set sizes,
    # so a capped pair's jaccard is <= its exact value and the capped result
    # is a subset of the uncapped one.
    rare = sh.withColumn(
        "df", F.count(F.lit(1)).over(W.partitionBy("sh"))
    ).filter(F.col("df") <= SHINGLE_DOC_CAP).drop("df")
    a = rare.alias("a")
    b = rare.alias("b")
    # no size-ratio pre-prune (jaccard <= min(na,nb)/max(na,nb)): the
    # per-row predicate on the probe stream measured slower than the
    # pair shuffle volume it saves
    cond = (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    pairs = (
        a.join(b, cond)
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("size_a"),
            F.col("b.n").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jaccard = F.col("n_shared").cast("double") / (F.col("size_a") + F.col("size_b") - F.col("n_shared"))
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_shared",
        "size_a",
        "size_b",
        jaccard.alias("jaccard"),
    ).filter(F.col("jaccard") >= 0.5)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_sig(docs: DataFrame, with_len: bool = False) -> DataFrame:
    """(doc_id, m0..m15[, n_chars]) MinHash signatures computed ENTIRELY
    map-side in one Arrow-batched ``mapInPandas`` stage: shingle → md5 →
    vectorized per-permutation mins in numpy. ``with_len=True`` adds the
    document's char length as a free ride-along (text is already in hand
    in the same Arrow batch — consumers that need lengths downstream,
    like the Levenshtein length-bound gate, would otherwise pay a
    doc_id join against a second scan). Two prior shapes lost to this one:
    explode+groupBy shuffles a row per shingle (~10²× the corpus) just to
    re-group what was already grouped, and the pure-expression variant
    (md5 inside ``transform`` lambdas) runs interpreted — Catalyst does
    not codegen higher-order-function lambdas, and measured ~3× slower
    than hashlib+numpy over Arrow batches. Signatures stream out of the
    scan: zero shuffles at any corpus size.

    Determinism: h = first 4 md5 bytes big-endian == the oracle's
    ``('0x' || substr(md5(sh),1,8))::BIGINT``; the permutation arithmetic
    is exact int64 (a·(h%P) < 2^62); min over a doc's shingles equals the
    oracle's GROUP BY min over its shingle rows."""
    perms = list(PERMS)
    p = MERSENNE_P

    def gen(batches):
        # nested + self-contained: executors cannot import dbt_fal_spark
        from hashlib import md5

        import numpy as np
        import pandas as pd

        a_vec = np.array([a for a, _ in perms], dtype=np.int64)[:, None]
        b_vec = np.array([b for _, b in perms], dtype=np.int64)[:, None]
        for pdf in batches:
            ids, sigs, lens = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:  # null text: excluded, matching split(NULL) SQL semantics
                    continue
                w = text.split(" ")
                if len(w) < 3:
                    continue
                shs = {" ".join(t) for t in zip(w, w[1:], w[2:])}
                hs = np.fromiter(
                    (int.from_bytes(md5(s.encode()).digest()[:4], "big") for s in shs),
                    dtype=np.int64,
                    count=len(shs),
                )
                ids.append(doc_id)
                lens.append(len(text))
                sigs.append(((a_vec * (hs[None, :] % p) + b_vec) % p).min(axis=1))
            mat = np.vstack(sigs) if sigs else np.empty((0, len(perms)), dtype=np.int64)
            out = {"doc_id": pd.Series(ids, dtype="int64")} | {
                f"m{i}": mat[:, i] for i in range(len(perms))
            }
            if with_len:
                out["n_chars"] = pd.Series(lens, dtype="int32")
            yield pd.DataFrame(out)

    schema = "doc_id long, " + ", ".join(f"m{i} long" for i in range(len(perms)))
    if with_len:
        schema += ", n_chars int"
    return spread(docs.select("doc_id", "text")).mapInPandas(gen, schema=schema)


def _minhash_exprs_oracle() -> str:
    h = _ORACLE_H32
    return ",\n           ".join(
        f"min((({a} * ({h} % {MERSENNE_P})) + {b}) % {MERSENNE_P}) AS m{i}"
        for i, (a, b) in enumerate(PERMS)
    )


def _band_sig_spark(band: int) -> F.Column:
    cols = [f"m{band * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
    return F.md5(F.concat_ws(",", *cols))


def _band_sig_oracle(band: int) -> str:
    cols = [f"m{band * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
    joined = " || ',' || ".join(f"{c}::VARCHAR" for c in cols)
    return f"md5({joined})"


def _lsh_candidate_pairs(sig: DataFrame, *, distinct: bool = True) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from banded signatures, doc_a <
    doc_b, distinct across bands. One pass over ``sig`` explodes the
    band structs; pairs are emitted MAP-SIDE from each (band, bsig)
    bucket's sorted member list — one shuffle of 4 rows/doc, versus the
    band self-join's two shuffle sides plus join (measured ~1.4× slower).
    Degenerate buckets (> LSH_BUCKET_CAP members = a giant identical-doc
    cluster, better handled by exact dedup / connected components) are
    cut before pair emission — the cap is mirrored in the oracles, and a
    pair sharing any OTHER small bucket still surfaces."""
    band_structs = [
        F.struct(F.lit(band).alias("band_id"), _band_sig_spark(band).alias("bsig"))
        for band in range(N_BANDS)
    ]
    bands = sig.select("doc_id", F.explode(F.array(*band_structs)).alias("b")).select(
        "doc_id", "b.band_id", "b.bsig"
    )
    grouped = (
        bands.groupBy("band_id", "bsig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds").between(2, LSH_BUCKET_CAP))
    )
    pairs = F.expr(
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds)), y -> struct(x as doc_a, y as doc_b))))"
    )
    out = grouped.select(F.explode(pairs).alias("p")).select("p.doc_a", "p.doc_b")
    # consumers that key on pair identity (est-jaccard join) need the
    # cross-band dedup; union-find does not — let it skip the shuffle
    return out.distinct() if distinct else out


@query(
    "d_minhash_lsh_pairs",
    oracle=f"""
    WITH {_ORACLE_SHINGLES},
    sig AS (
      SELECT doc_id,
           {_minhash_exprs_oracle()}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {band} AS band_id, {_band_sig_oracle(band)} AS bsig FROM sig" for band in range(N_BANDS))}
    ),
    okbkt AS (
      SELECT band_id, bsig FROM bands
      GROUP BY band_id, bsig HAVING count(*) <= {LSH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bsig = b.bsig AND a.doc_id < b.doc_id
      JOIN okbkt k ON k.band_id = a.band_id AND k.bsig = a.bsig
    )
    SELECT doc_a, doc_b,
           CAST({" + ".join(f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(N_PERM))} AS DOUBLE) / {N_PERM} AS est_jaccard
    FROM cand
    JOIN sig sa ON doc_a = sa.doc_id
    JOIN sig sb ON doc_b = sb.doc_id
    """,
    tags=("dedup", "minhash", "lsh"),
)
def d_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms) + LSH(4 bands × 4 rows) candidate pairs with
    estimated Jaccard — the subquadratic near-dup path.

    shingle → 16 map-side min-hashes (Arrow batch, no shuffle) → 4 band
    signatures → bucket-grouped pair emission → estimate from signature
    agreement. Candidate count stays ~linear in corpus size for any
    fixed dup rate: only docs agreeing on an entire band ever meet.
    Probability a pair at true Jaccard j becomes a candidate:
    1-(1-j^4)^4 (≈1 for j≥0.9, ≈0.04 for j=0.3).
    """
    docs = load_table(spark, sf_dir, "documents")
    sig = _minhash_sig(docs)
    # Signatures ride INSIDE their band buckets (bounded by LSH_BUCKET_CAP
    # members × 16 longs), so the agreement estimate is computed at pair
    # emission — no join back to the signature table. The previous shape
    # (cand ⋈ sig ⋈ sig) broadcasts fine locally but at 10^10 docs the
    # signature table is TBs: two full shuffle joins. Here signatures
    # never move except inside their own tiny bucket. The estimate is
    # band-independent (a pure function of the two signatures), so the
    # cross-band DISTINCT can dedupe on the full triple.
    sig_arr = F.array(*[F.col(f"m{i}") for i in range(N_PERM)])
    band_structs = [
        F.struct(F.lit(band).alias("band_id"), _band_sig_spark(band).alias("bsig"))
        for band in range(N_BANDS)
    ]
    bands = sig.select(
        F.struct("doc_id", sig_arr.alias("sig")).alias("m"),
        F.explode(F.array(*band_structs)).alias("b"),
    ).select("m", "b.band_id", "b.bsig")
    grouped = (
        bands.groupBy("band_id", "bsig")
        .agg(F.array_sort(F.collect_list("m")).alias("ds"))
        .filter(F.size("ds").between(2, LSH_BUCKET_CAP))
    )
    # agreement over the two 16-slot signatures, interpreted HOF but only
    # on candidate pairs (~linear in corpus for a fixed dup rate)
    agree = (
        "aggregate(zip_with(x.sig, y.sig, (a, b) -> IF(a = b, 1, 0)), 0, (acc, v) -> acc + v)"
    )
    pairs = F.expr(
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds)), y -> "
        f"struct(x.doc_id as doc_a, y.doc_id as doc_b, {agree} as n_agree))))"
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b", (F.col("p.n_agree").cast("double") / N_PERM).alias("est_jaccard"))
        .distinct()
    )


@query(
    "d_lsh_levenshtein_refine",
    oracle=f"""
    WITH {_ORACLE_SHINGLES},
    sig AS (
      SELECT doc_id,
           {_minhash_exprs_oracle()}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {band} AS band_id, {_band_sig_oracle(band)} AS bsig FROM sig" for band in range(N_BANDS))}
    ),
    okbkt AS (
      SELECT band_id, bsig FROM bands
      GROUP BY band_id, bsig HAVING count(*) <= {LSH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bsig = b.bsig AND a.doc_id < b.doc_id
      JOIN okbkt k ON k.band_id = a.band_id AND k.bsig = a.bsig
    )
    SELECT doc_a, doc_b,
           levenshtein(da.text, db.text) AS edit_dist,
           CAST(levenshtein(da.text, db.text) AS DOUBLE)
             / greatest(length(da.text), length(db.text)) AS edit_ratio
    FROM cand
    JOIN documents da ON doc_a = da.doc_id
    JOIN documents db ON doc_b = db.doc_id
    WHERE CAST(levenshtein(da.text, db.text) AS DOUBLE)
             / greatest(length(da.text), length(db.text)) <= 0.4
    """,
    tags=("dedup", "lsh", "levenshtein"),
)
def d_lsh_levenshtein_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate refinement — the verify step every LSH dedup pipeline
    ends with: probabilistic candidates (MinHash bands) re-checked with
    EXACT edit distance, keeping pairs whose normalized Levenshtein ≤
    0.4. The expensive O(len²) DP runs only on the ~linear candidate
    set, never the corpus square; both engines' levenshtein() is the
    classic integer DP, so the gate is engine-exact.

    Document char lengths ride through the band-bucket shuffle inside
    the member structs (4 ints/doc on top of the band signature — text
    itself never enters the bucket exchange), so the Levenshtein LENGTH
    LOWER BOUND ``lev(a,b) >= |len(a)-len(b)|`` prunes candidate pairs
    BEFORE any text bytes move: a pair with |la-lb| > 0.4*max(la,lb)
    cannot pass the final edit_ratio <= 0.4 filter, so dropping it is
    semantics-free (oracle unchanged). Surviving pairs then join text
    back through two probes of the document scan, one per pair side; the
    join strategy is the planner's (at the test scales the gated pair
    set broadcasts and the doc scan streams past it)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = _minhash_sig(docs, with_len=True)
    band_structs = [
        F.struct(F.lit(band).alias("band_id"), _band_sig_spark(band).alias("bsig"))
        for band in range(N_BANDS)
    ]
    bands = sig.select(
        F.struct("doc_id", F.col("n_chars").alias("n")).alias("m"),
        F.explode(F.array(*band_structs)).alias("b"),
    ).select("m", "b.band_id", "b.bsig")
    grouped = (
        bands.groupBy("band_id", "bsig")
        .agg(F.array_sort(F.collect_list("m")).alias("ds"))
        .filter(F.size("ds").between(2, LSH_BUCKET_CAP))
    )
    pairs = F.expr(
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds)), y -> "
        "struct(x.doc_id as doc_a, y.doc_id as doc_b, x.n as len_a, y.n as len_b))))"
    )
    cand = (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.len_a", "p.len_b")
        .filter(
            F.abs(F.col("len_a") - F.col("len_b"))
            <= 0.4 * F.greatest("len_a", "len_b")
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    da = docs.select(F.col("doc_id").alias("da_id"), F.col("text").alias("text_a"))
    db = docs.select(F.col("doc_id").alias("db_id"), F.col("text").alias("text_b"))
    lev = F.levenshtein("text_a", "text_b")
    ratio = lev.cast("double") / F.greatest(F.length("text_a"), F.length("text_b"))
    return (
        cand.join(da, F.col("doc_a") == F.col("da_id"))
        .join(db, F.col("doc_b") == F.col("db_id"))
        .select(
            "doc_a",
            "doc_b",
            lev.alias("edit_dist"),
            ratio.alias("edit_ratio"),
        )
        .filter(F.col("edit_ratio") <= 0.4)
    )


_WN_K = 8  # rolling-hash window (chars) — matches t_rolling_fingerprint
_WN_B = 257
_WN_M = 2147483647
_WN_SAMPLE = 64  # keep hashes ≡ 0 (mod 64): ~1/64 of windows survive
_WN_MIN_SHARED = 3
# A fingerprint present in > _WN_DOC_CAP docs is a degenerate dup-cluster
# marker: its pair fan-out is quadratic in cluster size (the one blowup a
# 100 TB corpus can hit here — same rationale as SHINGLE_DOC_CAP /
# LSH_BUCKET_CAP, and like them the cap is mirrored in the oracle so the
# checked semantics are the deployed semantics). Dropping the bucket only
# under-reports: shared-fingerprint counts can shrink, pairs never appear
# from nowhere (capped ⊆ exact, property-tested in test_dedup_caps.py).
_WN_DOC_CAP = 64


def _wn_horner_oracle() -> str:
    expr = "0::BIGINT"
    for j in range(_WN_K):
        expr = f"(({expr}) * {_WN_B} + ascii(substr(text, i + {j}, 1))) % {_WN_M}"
    return expr


@query(
    "d_winnow_neardup",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, length(text) - {_WN_K - 1}),
               i -> {_wn_horner_oracle()}
             ) AS rk
      FROM documents
      WHERE length(text) >= {_WN_K}
    ), fp AS (
      SELECT DISTINCT doc_id, unnest(list_filter(rk, x -> x % {_WN_SAMPLE} = 0)) AS h
      FROM h
    ), ok AS (
      SELECT h FROM fp GROUP BY h HAVING count(*) BETWEEN 2 AND {_WN_DOC_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS n_shared_fingerprints
    FROM fp a JOIN ok USING (h) JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {_WN_MIN_SHARED}
    """,
    tags=("dedup", "winnowing", "rolling-hash"),
)
def d_winnow_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style near-dup candidates (the MOSS idea): every length-8
    char window gets a Karp–Rabin rolling hash; only hashes ≡ 0 (mod 64)
    are retained as the document's fingerprint sample; documents sharing
    ≥ 3 sampled fingerprints pair up. Character-level windows catch
    near-dups that token-shingle methods miss (whitespace/punctuation
    edits shift tokens but leave most char windows intact). Hashes are
    computed in the same vectorized Arrow stage as t_rolling_fingerprint
    (~1/64 of windows survive, so the shuffle is 64× smaller than the
    window count). Pair generation is the bucket-emit shape of
    _lsh_candidate_pairs: (h, doc_id) shuffles into per-hash buckets,
    with buckets over _WN_DOC_CAP docs dropped whole BEFORE any array is
    collected — a count-only pre-gate (map-side combined, longs through
    the wire) decides survival, so even a degenerate fingerprint shared
    by millions of docs never materializes its doc list on a reducer
    (oracle-mirrored — fingerprint-overlap mass is quadratic in
    dup-cluster size, and a real near-dup pair still surfaces through
    its other, rarer fingerprints). Pairs then expand map-side via a
    codegen'd HOF — no self-join, no uncapped fan-out. Exactness:
    mod-each-step Horner in int64, ord() == DuckDB ascii()."""
    k, base, mod, sample = _WN_K, _WN_B, _WN_M, _WN_SAMPLE

    def gen(batches):
        # nested + self-contained: executors cannot import dbt_fal_spark
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, hs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:  # null text: excluded, matching split(NULL) SQL semantics
                    continue
                n = len(text)
                if n < k:
                    continue
                b = text.encode("utf-8")
                if len(b) == n:
                    # pure ASCII: utf-8 byte == code point — one
                    # frombuffer instead of a per-char Python loop
                    codes = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                else:
                    codes = np.fromiter((ord(c) for c in text), dtype=np.int64, count=n)
                n_win = n - k + 1
                h = np.zeros(n_win, dtype=np.int64)
                for j in range(k):
                    h = (h * base + codes[j : j + n_win]) % mod
                kept = np.unique(h[h % sample == 0])
                ids.extend([doc_id] * len(kept))
                hs.extend(kept.tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "h": pd.Series(hs, dtype="int64"),
                }
            )

    docs = load_table(spark, sf_dir, "documents")
    # persist: fp feeds both the cap gate and the collect — two longs per
    # surviving window, far smaller than re-running the Python hashing
    # pass over the raw text
    fp = spread(docs.select("doc_id", "text")).mapInPandas(
        gen, schema="doc_id long, h long"
    ).persist()
    # bound the aggregation buffer BEFORE collecting: a degenerate
    # fingerprint shared by millions of docs must never build its full
    # doc_id array on one reducer. The count pass shuffles only
    # (h, partial-count) longs (map-side combine); the join then gates
    # collect_list to keys already known to fit the cap — the Spark
    # analogue of the oracle's HAVING, which never materializes the
    # oversized bucket either.
    ok_h = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n").between(2, _WN_DOC_CAP))
        .select("h")
    )
    grouped = (
        fp.join(ok_h, "h")
        .groupBy("h")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
    )
    pairs = F.expr(
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds)), y -> struct(x as doc_a, y as doc_b))))"
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fingerprints"))
        .filter(F.col("n_shared_fingerprints") >= _WN_MIN_SHARED)
    )


DECON_BENCH_MAX_ID = 50  # doc_id < 50 plays the held-out benchmark set
DECON_MIN_SHARED = 3  # shared-shingle threshold to flag contamination


@query(
    "d_decontaminate",
    oracle=f"""
    WITH {_ORACLE_SHINGLES},
    bench AS (SELECT doc_id, sh FROM sh WHERE doc_id < {DECON_BENCH_MAX_ID}),
    train AS (SELECT doc_id, sh FROM sh WHERE doc_id >= {DECON_BENCH_MAX_ID})
    SELECT t.doc_id AS train_doc_id,
           b.doc_id AS bench_doc_id,
           count(*) AS n_shared_shingles
    FROM train t JOIN bench b ON t.sh = b.sh
    GROUP BY t.doc_id, b.doc_id
    HAVING count(*) >= {DECON_MIN_SHARED}
    """,
    tags=("dedup", "decontamination"),
)
def d_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-data step every serious
    pipeline runs: flag training documents sharing ≥ {threshold} word
    3-gram shingles with a held-out benchmark set (here: doc_id < 50
    stands in for the eval suite).

    The benchmark side is tiny BY DEFINITION, so the join is done
    entirely map-side: a pushed-filter scan collects the bench docs, an
    inverted shingle→bench-ids index is built on the driver and
    broadcast, and ONE Arrow pass over the training corpus counts hits
    per (train, bench) pair and emits only qualifying rows — ZERO
    shuffles, the corpus streams exactly once. (The previous shape —
    full-corpus shingle stage + broadcast hash join + count shuffle —
    was correct but spent two extra stages re-deriving the bench side
    from the corpus-wide shingle table.) At 100 TB the index for a few
    thousand eval docs is a few MB of broadcast. The oracle joins
    exact strings; the index keys are those same strings.
    """
    docs = load_table(spark, sf_dir, "documents")
    bench_rows = (
        docs.filter(F.col("doc_id") < DECON_BENCH_MAX_ID)
        .select("doc_id", "text")
        .collect()
    )
    inv: dict = {}
    for r in bench_rows:
        if r["text"] is None:  # null text: excluded, matching split(NULL) SQL semantics
            continue
        w = r["text"].split(" ")
        if len(w) < 3:
            continue
        for sh in {" ".join(t) for t in zip(w, w[1:], w[2:])}:
            inv.setdefault(sh, []).append(r["doc_id"])
    b_inv = spark.sparkContext.broadcast(inv)
    min_shared = DECON_MIN_SHARED

    def scan(batches):
        # nested + self-contained: executors cannot import dbt_fal_spark
        from collections import Counter

        import pandas as pd

        inv_local = b_inv.value
        for pdf in batches:
            t_ids, b_ids, counts = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:  # null text: excluded, matching split(NULL) SQL semantics
                    continue
                w = text.split(" ")
                if len(w) < 3:
                    continue
                hits: Counter = Counter()
                for sh in {" ".join(t) for t in zip(w, w[1:], w[2:])}:
                    for b in inv_local.get(sh, ()):
                        hits[b] += 1
                for b, c in hits.items():
                    if c >= min_shared:
                        t_ids.append(doc_id)
                        b_ids.append(b)
                        counts.append(c)
            yield pd.DataFrame(
                {
                    "train_doc_id": pd.Series(t_ids, dtype="int64"),
                    "bench_doc_id": pd.Series(b_ids, dtype="int64"),
                    "n_shared_shingles": pd.Series(counts, dtype="int64"),
                }
            )

    train = docs.filter(F.col("doc_id") >= DECON_BENCH_MAX_ID).select("doc_id", "text")
    return spread(train).mapInPandas(
        scan, schema="train_doc_id long, bench_doc_id long, n_shared_shingles long"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

@query(
    "d_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS sh FROM documents
    ), hashed AS (
      SELECT doc_id, {_ORACLE_H32} AS h FROM toks
    ), bits AS (
      SELECT doc_id,
             {", ".join(f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}" for j in range(32))}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id,
           {" + ".join(f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(32))} AS simhash,
           {", ".join(f"(({' + '.join(f'CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END' for j in range(32))}) >> {8 * k}) & 255 AS band{k}" for k in range(4))}
    FROM bits
    """,
    tags=("dedup", "simhash"),
)
def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document + 4 byte-slice bands.

    Each distinct token votes ±1 on every bit of its md5-derived hash;
    the sign vector becomes the fingerprint. Near-dup docs (small token
    edits) land within small Hamming distance, and by pigeonhole any pair
    within distance 4 shares at least one of the 4 byte bands — so
    band-equality joins find candidates with no pair explosion.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Entirely map-side: hash the distinct tokens inside the row, then
    # each bit's vote sum is 2·(count of 1-bits) − (token count) — the
    # explode+groupBy formulation shuffles a row per token only to
    # re-group rows that started grouped. Zero exchanges: fingerprints
    # stream out of the scan at 100 TB.
    hashed = docs.select(
        "doc_id",
        F.expr(
            "transform(array_distinct(split(text, ' ')),"
            " sh -> cast(conv(substring(md5(sh), 1, 8), 16, 10) as bigint))"
        ).alias("hs"),
    )
    # ±1 votes: sum_j(2·bit−1) = 2·popcount_j − n (same value as the
    # oracle's per-row CASE sum)
    bit_cols = [
        F.expr(f"2 * size(filter(hs, h -> ((h >> {j}) & 1) = 1)) - size(hs)").alias(f"s{j}")
        for j in range(32)
    ]
    bits = hashed.select("doc_id", *bit_cols)
    simhash = None
    for j in range(32):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(0)
        simhash = term if simhash is None else simhash + term
    out = bits.select("doc_id", simhash.alias("simhash"))
    return out.select(
        "doc_id",
        "simhash",
        *[F.expr(f"(simhash >> {8 * k}) & 255").alias(f"band{k}") for k in range(4)],
    )


# ---------------------------------------------------------------------------
# Embedding near-dup
# ---------------------------------------------------------------------------

# Quantize float32 embeddings to round(x*1024) BIGINTs: dot products and
# norms become exact integer math, so cosine (one final double division)
# is bit-identical across engines and partition orders.
_SPARK_QVEC = "transform(embedding, x -> cast(round(x * 1024) as bigint))"
_ORACLE_QVEC = "list_transform(embedding, x -> CAST(round(x * 1024) AS BIGINT))"

# Tile width for the exact pair join: per-task memory is CHUNK·d·8 bytes
# per side (≈ 256 KB here; size to executor RAM at real scale — 10^5
# vectors/tile ≈ 50 MB — the tile count, not the tile size, absorbs
# corpus growth).
EMB_TILE_CHUNK = 512

# Exact-pairs corpus-size guard (VERDICT r11 finding 2): the exact
# threshold join is Ω(n²) COMPUTE by its semantics — memory is tiled and
# bounded, but nothing else stops a full-corpus invocation that would
# burn ~n²/2 vector dot products. Above this many vectors (5M ≈ 1.25e13
# pair scores ≈ days on a 1000-executor cluster) the operator refuses
# and points at the subquadratic d_embedding_neardup_lsh unless the
# caller passes exact=True to state they really want quadratic work.
EMB_EXACT_MAX_ROWS = 5_000_000


@query(
    "d_embedding_neardup_pairs",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label, {_ORACLE_QVEC} AS qv FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
    ), n AS (
      SELECT vec_id, label, qv, list_dot_product(qv, qv) AS nrm FROM q
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           a.label AS label_a, b.label AS label_b,
           CAST(list_dot_product(a.qv, b.qv) AS DOUBLE) / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE CAST(list_dot_product(a.qv, b.qv) AS DOUBLE) / (sqrt(a.nrm) * sqrt(b.nrm)) >= 0.4
    """,
    tags=("dedup", "embedding"),
)
def d_embedding_neardup_pairs(
    spark: SparkSession, sf_dir: str, exact: bool = False
) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.4), exact, tiled.

    Exact threshold-0.4 similarity join is intrinsically Ω(n²) compute
    (the fixture's qualifying pairs sit at cosine 0.40–0.60, far below
    where LSH prunes — measured 11% candidate recall at sf0.1; the
    subquadratic *approximate* path is ``d_embedding_neardup_lsh``).
    What CAN be made scale-safe is memory and data movement, so instead
    of broadcasting the whole corpus matrix to every task (the r4 plan —
    dies when the corpus outgrows executor RAM): PAIRWISE tiling.
    Vectors are chunked by ``vec_id div CHUNK``; the left side of each
    tile (i, j) is chunk i's rows keyed (i, j) for every j ≥ i, the
    right side is chunk j's rows keyed (i, j) for every i ≤ j, and the
    cogroup key is the PAIR — so each group holds at most 2·CHUNK rows
    (the r5-v1 shape keyed only on j and its last group accumulated the
    WHOLE corpus on the left — flagged in review), each pair is scored
    exactly once (vec_a < vec_b inside the tile, both sides of tile
    (i, i) being the same chunk), per-task memory is bounded by
    2·CHUNK·d ints regardless of corpus size, and no row carries more
    than one vector. Shuffle volume is O(n²·d/CHUNK) — the price of
    exact quadratic work tiled with bounded memory; CHUNK is the knob.
    numpy float64 matmul on the quantized ints is integer-exact
    (< 2^53), bit-identical to the oracle.
    """
    import numpy as np
    import pandas as pd

    pair_schema = "vec_a long, vec_b long, label_a long, label_b long, cosine double"
    emb = load_table(spark, sf_dir, "embeddings")
    chunk = EMB_TILE_CHUNK
    # one bounded scalar collect: corpus size gates the quadratic work
    # (r12, VERDICT r11 finding 2) and the max id becomes a literal tile
    # bound (replacing the former broadcast-crossJoin side channel)
    stats = emb.agg(
        F.max("vec_id").alias("mx"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    if not exact and (stats["n"] or 0) > EMB_EXACT_MAX_ROWS:
        raise ValueError(
            f"d_embedding_neardup_pairs is an EXACT threshold join — Ω(n²) "
            f"compute by its semantics — and the corpus has {stats['n']:,} "
            f"vectors (> {EMB_EXACT_MAX_ROWS:,}). Use the subquadratic "
            "d_embedding_neardup_lsh for full-corpus near-dup detection, or "
            "pass exact=True to opt in to quadratic work on this corpus."
        )
    tmax = int(stats["mx"] or 0) // chunk
    left = (
        emb.filter(F.expr(FINITE_EMB))
        .alias("l_side")
        .select(
            "vec_id",
            "label",
            "embedding",
            F.expr(f"vec_id div {chunk}").alias("ti"),
            F.explode(
                F.expr(f"sequence(vec_id div {chunk}, {tmax})")
            ).alias("tj"),
        )
    )
    # fresh lineage scan: the cogroup's two sides must not share
    # attribute lineage or the analyzer flags an ambiguous self-join
    emb_r = load_table_fresh(spark, sf_dir, "embeddings").filter(F.expr(FINITE_EMB))
    right = emb_r.select(
        F.explode(F.expr(f"sequence(0, vec_id div {chunk})")).alias("ti"),
        F.expr(f"vec_id div {chunk}").alias("tj"),
        "vec_id",
        "label",
        "embedding",
    )

    def tile(key, lpdf, rpdf):
        if not len(lpdf) or not len(rpdf):
            return pd.DataFrame(
                {c: pd.Series(dtype=t) for c, t in
                 [("vec_a", "int64"), ("vec_b", "int64"), ("label_a", "int64"),
                  ("label_b", "int64"), ("cosine", "float64")]}
            )
        def quant(col):
            e = np.array(list(col), dtype=np.float64) * 1024.0
            return np.sign(e) * np.floor(np.abs(e) + 0.5)  # round() HALF_UP twin
        a_ids = lpdf["vec_id"].to_numpy(np.int64)
        b_ids = rpdf["vec_id"].to_numpy(np.int64)
        a_mat, b_mat = quant(lpdf["embedding"]), quant(rpdf["embedding"])
        a_nrm, b_nrm = (a_mat * a_mat).sum(1), (b_mat * b_mat).sum(1)
        dots = a_mat @ b_mat.T  # exact: integer values < 2^53
        # sqrt(na)*sqrt(nb), NOT sqrt(na*nb): must match the oracle's
        # expression shape bit-for-bit (they differ in the last ulp)
        cos = dots / (np.sqrt(a_nrm)[:, None] * np.sqrt(b_nrm)[None, :])
        keep = (cos >= 0.4) & (a_ids[:, None] < b_ids[None, :])
        ai, bj = np.nonzero(keep)
        return pd.DataFrame(
            {
                "vec_a": a_ids[ai],
                "vec_b": b_ids[bj],
                "label_a": lpdf["label"].to_numpy(np.int64)[ai],
                "label_b": rpdf["label"].to_numpy(np.int64)[bj],
                "cosine": cos[ai, bj],
            }
        )

    return (
        left.groupby("ti", "tj")
        .cogroup(right.groupby("ti", "tj"))
        .applyInPandas(tile, schema=pair_schema)
    )


def _embedding_lsh_oracle() -> str:
    from dbt_fal_spark.operators.similarity import N_TABLES, _oracle_table_bucket

    buckets = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {_oracle_table_bucket(t)} AS bucket FROM q"
        for t in range(N_TABLES)
    )
    return f"""
    WITH q AS (
      SELECT vec_id, label, {_ORACLE_QVEC} AS qv FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
    ), n AS (
      SELECT vec_id, label, qv, list_dot_product(qv, qv) AS nrm FROM q
    ), buckets AS (
      {buckets}
    ), okbkt AS (
      SELECT tbl, bucket FROM buckets
      GROUP BY tbl, bucket HAVING count(*) BETWEEN 2 AND {LSH_BUCKET_CAP}
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM buckets a
      JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id
      JOIN okbkt k ON k.tbl = a.tbl AND k.bucket = a.bucket
    )
    SELECT c.vec_a, c.vec_b, na.label AS label_a, nb.label AS label_b,
           CAST(list_dot_product(na.qv, nb.qv) AS DOUBLE)
             / (sqrt(na.nrm) * sqrt(nb.nrm)) AS cosine
    FROM cand c
    JOIN n na ON na.vec_id = c.vec_a
    JOIN n nb ON nb.vec_id = c.vec_b
    WHERE CAST(list_dot_product(na.qv, nb.qv) AS DOUBLE)
             / (sqrt(na.nrm) * sqrt(nb.nrm)) >= 0.4
    """


@query(
    "d_embedding_neardup_lsh",
    oracle=_embedding_lsh_oracle(),
    tags=("dedup", "embedding", "lsh"),
)
def d_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subquadratic embedding near-dup: multi-table SRP-LSH candidate
    generation + exact cosine refine — the 100 TB path next to the
    exact-tiled ``d_embedding_neardup_pairs``.

    Semantics are a DEFINED, oracle-mirrored SUBSET of the exact pairs
    (like the capped Jaccard family): a pair qualifies iff it shares an
    8-plane SRP bucket in ANY of the {N_TABLES} tables (degenerate
    buckets > LSH_BUCKET_CAP members dropped whole, mirrored in the
    oracle's HAVING) and its exact quantized cosine is ≥ 0.4. Recall vs
    the exact entry is a property of the data's cosine distribution
    (tests/test_round5_fixes.py measures it on the fixture and asserts
    result ⊆ exact); at near-dup thresholds (≥ 0.9 — tight clusters)
    the bucket collision probability per table is ≈ 0.9^8 and the
    {N_TABLES}-table union recovers nearly all pairs.

    Scale shape: each vector emits {N_TABLES} (table, bucket) keys; pair
    emission happens inside bucket groups (bounded by LSH_BUCKET_CAP —
    no sig⋈sig re-join), the cross-table dedup is one distinct on the
    pair key, and the exact refine is an Arrow-vectorized dot on the
    carried quantized vectors. Candidate volume grows ~linearly in
    corpus size for non-degenerate data.
    """
    import numpy as np
    import pandas as pd

    from dbt_fal_spark.operators.similarity import N_PLANES, N_TABLES, TABLE_PLANES

    pair_schema = "vec_a long, vec_b long, label_a long, label_b long, cosine double"
    emb = load_table(spark, sf_dir, "embeddings")
    planes = np.array(
        [w for t in range(N_TABLES) for w in TABLE_PLANES[t]], dtype=np.float64
    )
    bits = np.array([1 << p for p in range(N_PLANES)], dtype=np.int64)
    n_tables = N_TABLES
    n_planes = N_PLANES

    def add_buckets(batches):
        # mapInArrow: embedding column in as ONE flat zero-copy float
        # buffer (no per-row list objects — the measured hot spot of the
        # pandas variant at 1M+ rows, tools/ann_scale_bench.py)
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            idx = batch.schema.get_field_index
            flat = batch.column(idx("embedding")).flatten().to_numpy(zero_copy_only=False)
            e = flat.astype(np.float64).reshape(batch.num_rows, -1)
            e *= 1024.0
            m = np.sign(e) * np.floor(np.abs(e) + 0.5)  # round() HALF_UP twin
            sig = (m @ planes.T) > 0
            # quantized vectors ride the shuffle PACKED as 8·DIM-byte
            # binary, not array<long>: a flat buffer serializes tighter
            # than Arrow list offsets+validity and reassembles with one
            # frombuffer instead of a per-row object conversion
            # (measured ~13% off the query wall at sf0.1; at 100 TB the
            # (tbl,bucket) exchange is this query's dominant movement)
            mi = m.astype(np.int64)
            qv_bytes = [mi[i].tobytes() for i in range(len(mi))]
            ids = batch.column(idx("vec_id")).to_numpy().astype(np.int64)
            labels = batch.column(idx("label")).to_numpy().astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, n_tables)),
                    pa.array(np.repeat(labels, n_tables)),
                    pa.array(
                        [b for b in qv_bytes for _ in range(n_tables)],
                        type=pa.binary(),
                    ),
                    pa.array(np.repeat(np.einsum("ij,ij->i", m, m).astype(np.int64), n_tables)),
                    pa.array(np.tile(np.arange(n_tables, dtype=np.int64), batch.num_rows)),
                    pa.array(
                        np.stack(
                            [
                                sig[:, t * n_planes : (t + 1) * n_planes] @ bits
                                for t in range(n_tables)
                            ],
                            axis=1,
                        ).reshape(-1)
                    ),
                ],
                names=["vec_id", "label", "qv", "nrm", "tbl", "bucket"],
            )

    sig = spread(emb.filter(F.expr(FINITE_EMB)).select("vec_id", "label", "embedding")).mapInArrow(
        add_buckets,
        schema="vec_id long, label long, qv binary, nrm long, tbl long, bucket long",
    )
    cap = LSH_BUCKET_CAP

    # ONE Arrow stage fusing pair emission + exact-cosine refine:
    # buckets are co-located by the (tbl, bucket) repartition, groups
    # found via numpy boundary detection inside the partition batch
    # (a per-group applyInPandas measured 4× slower — ~4 ms of pandas
    # dispatch per tiny group × 1024 groups; here the Python loop is
    # cheap numpy slices). Members ride their bucket — no signature-
    # table re-join; degenerate buckets > cap are skipped whole,
    # mirrored in the oracle's HAVING. A map task holds one shuffle
    # partition of signatures — size shuffle partitions accordingly at
    # real scale. The cross-table dedup is one distinct on SLIM id rows
    # (cosines are identical across tables, so keeping any duplicate
    # row is deterministic); carrying qv arrays through the distinct
    # was the r5-v1 plan's dominant shuffle cost.
    def emit_pairs(batches):
        frames = [pdf for pdf in batches if len(pdf)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        gkey = (pdf["tbl"].to_numpy(np.int64) << 32) | pdf["bucket"].to_numpy(np.int64)
        order = np.lexsort((pdf["vec_id"].to_numpy(np.int64), gkey))
        gkey = gkey[order]
        # drop oversized/singleton buckets BEFORE materializing the qv
        # matrix — on dup-saturated corpora most rows sit in over-cap
        # buckets and converting their vectors first dominated the stage
        b0 = np.flatnonzero(np.r_[True, gkey[1:] != gkey[:-1]])
        b1 = np.r_[b0[1:], len(gkey)]
        sizes = np.repeat(b1 - b0, b1 - b0)
        keep = (sizes >= 2) & (sizes <= cap)
        order, gkey = order[keep], gkey[keep]
        if not len(gkey):
            return
        ids = pdf["vec_id"].to_numpy(np.int64)[order]
        labels = pdf["label"].to_numpy(np.int64)[order]
        mat = (
            np.frombuffer(b"".join(pdf["qv"].to_numpy()[order]), dtype=np.int64)
            .reshape(len(order), -1)
            .astype(np.float64)
        )
        nrm = pdf["nrm"].to_numpy(np.float64)[order]
        starts = np.flatnonzero(np.r_[True, gkey[1:] != gkey[:-1]])
        ends = np.r_[starts[1:], len(gkey)]
        out = {k: [] for k in ("vec_a", "vec_b", "label_a", "label_b", "cosine")}
        for s, e in zip(starts, ends):
            m = e - s
            if m < 2 or m > cap:
                continue
            sub = mat[s:e]
            dots = sub @ sub.T  # exact: integer values < 2^53
            # sqrt(na)*sqrt(nb), NOT sqrt(na*nb): oracle expression shape
            rt = np.sqrt(nrm[s:e])
            cos = dots / (rt[:, None] * rt[None, :])
            ai, bj = np.nonzero(np.triu(cos >= 0.4, k=1))
            if not len(ai):
                continue
            out["vec_a"].append(ids[s:e][ai])
            out["vec_b"].append(ids[s:e][bj])
            out["label_a"].append(labels[s:e][ai])
            out["label_b"].append(labels[s:e][bj])
            out["cosine"].append(cos[ai, bj])
        if out["vec_a"]:
            yield pd.DataFrame({k: np.concatenate(v) for k, v in out.items()})

    return (
        sig.repartition("tbl", "bucket")
        .mapInPandas(emit_pairs, schema=pair_schema)
        .dropDuplicates(["vec_a", "vec_b"])
    )


# ---------------------------------------------------------------------------
# Canonical-row selection (deterministic dropDuplicates)
# ---------------------------------------------------------------------------

@query(
    "d_keep_best_per_key",
    oracle="""
    SELECT source, lang, doc_id, n_chars
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY source, lang ORDER BY n_chars DESC, doc_id
      ) AS rn
      FROM documents
    ) t
    WHERE rn = 1
    """,
    tags=("dedup", "canonical"),
)
def d_keep_best_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep ONE canonical row per (source, lang): the longest document,
    doc_id as tiebreak. This is what dropDuplicates should have been —
    dropDuplicates keeps an arbitrary partition-order-dependent row,
    which silently changes between runs/cluster sizes; row_number over an
    explicit total order is reproducible anywhere. One shuffle; at scale
    prefer max_by-style pre-aggregation when the payload is wide."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source", "lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", "lang", "doc_id", "n_chars")
    )


# ---------------------------------------------------------------------------
# Near-dup connected components (dedup clustering)
# ---------------------------------------------------------------------------

@query(
    "d_neardup_components",
    oracle=f"""
    WITH RECURSIVE {_ORACLE_SHINGLES},
    sig AS (
      SELECT doc_id,
           {_minhash_exprs_oracle()}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {band} AS band_id, {_band_sig_oracle(band)} AS bsig FROM sig" for band in range(N_BANDS))}
    ),
    okbkt AS (
      SELECT band_id, bsig FROM bands
      GROUP BY band_id, bsig HAVING count(*) <= {LSH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bsig = b.bsig AND a.doc_id < b.doc_id
      JOIN okbkt k ON k.band_id = a.band_id AND k.bsig = a.bsig
    ),
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM cand
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    ),
    comp AS (
      SELECT src AS doc_id, min(dst) AS canonical_id FROM reach GROUP BY src
    )
    SELECT doc_id, canonical_id,
           count(*) OVER (PARTITION BY canonical_id) AS component_size
    FROM comp
    """,
    tags=("dedup", "components", "iterative"),
)
def d_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the MinHash-LSH
    candidate graph, every document labeled with the min doc_id of its
    component (singletons label themselves). This is the step that turns
    pairwise near-dup evidence into the keep-one-per-cluster decision of
    a training-data pipeline.

    Component labeling is scale-adaptive (functions/graph.py,
    ``min_label_components``): the candidate EDGES (duplicate pairs) are
    tiny relative to the corpus, so below a threshold they collect to a
    driver union-find whose label/size maps ship back as literal map
    expressions — labeling is a pure map lookup over the doc scan. Above
    it, iterative min-label propagation: one edge⋈labels shuffle + min
    aggregate per round, rounds = graph diameter (shallow for near-dup
    clusters; swap in large-star/small-star rounds, Kiveris et al., for
    adversarial diameters). The fixpoint (min reachable id) is unique,
    so results are independent of execution order and of which path ran
    — the DuckDB oracle computes it as a recursive-CTE transitive
    closure.
    """
    docs = load_table(spark, sf_dir, "documents")
    sig = _minhash_sig(docs)
    # STAR edges, not all pairs: connecting every bucket member to the
    # bucket's min doc_id yields the same connectivity as the full
    # k(k-1)/2 pair set (any two members meet through the hub), with k-1
    # edges per bucket — the first star-trick of the large-star/small-star
    # family, applied at emission. The oracle's transitive closure over
    # the FULL pair graph reaches the identical fixpoint.
    band_structs = [
        F.struct(F.lit(band).alias("band_id"), _band_sig_spark(band).alias("bsig"))
        for band in range(N_BANDS)
    ]
    bands = sig.select("doc_id", F.explode(F.array(*band_structs)).alias("b")).select(
        "doc_id", "b.band_id", "b.bsig"
    )
    grouped = (
        bands.groupBy("band_id", "bsig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds").between(2, LSH_BUCKET_CAP))
    )
    star = F.expr(
        "transform(slice(ds, 2, size(ds) - 1), y -> struct(ds[0] as src, y as dst))"
    )
    # persist: the kernel's limit-collect probe materializes this cache in
    # one job; if the graph exceeds the driver threshold, the iterative
    # rounds then re-read edges from cache instead of re-running the
    # whole sig+band pipeline per round.
    edges = grouped.select(F.explode(star).alias("e")).select("e.src", "e.dst").persist()

    from dbt_fal_spark.functions.graph import min_label_components

    labels = min_label_components(
        docs.select(F.col("doc_id").alias("id")),
        edges,
        symmetrize=True,
        with_sizes=True,
    )
    edges.unpersist()
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("canonical_id"),
        "component_size",
    )


@query(
    "d_neardup_triangles",
    oracle=f"""
    WITH {_ORACLE_SHINGLES},
    sig AS (
      SELECT doc_id,
           {_minhash_exprs_oracle()}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {band} AS band_id, {_band_sig_oracle(band)} AS bsig FROM sig" for band in range(N_BANDS))}
    ),
    okbkt AS (
      SELECT band_id, bsig FROM bands
      GROUP BY band_id, bsig HAVING count(*) <= {LSH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bsig = b.bsig AND a.doc_id < b.doc_id
      JOIN okbkt k ON k.band_id = a.band_id AND k.bsig = a.bsig
    )
    SELECT count(DISTINCT x) AS n_nodes,
           (SELECT count(*) FROM cand) AS n_edges,
           (SELECT count(*)
            FROM cand e1 JOIN cand e2 ON e1.doc_b = e2.doc_a
            JOIN cand e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
           ) AS n_triangles
    FROM (SELECT doc_a AS x FROM cand UNION SELECT doc_b FROM cand)
    """,
    tags=("dedup", "graph", "triangles"),
)
def d_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup candidate graph — the standard
    density check on a dedup graph (many triangles = tight duplicate
    clusters worth a single canonical doc; few = chains that need the
    pairwise verify step). Ordered-edge (a<b) representation makes each
    triangle count exactly once via the classic two-join pattern:
    e1(a,b) ⋈ e2(b,c) produces wedges, e3(a,c) closes them. Both joins
    key on node ids — at 100 TB this is two shuffles of the EDGE list
    (degree-skew handled by the same salting as any hot-key join), never
    the corpus. The candidate edges are persisted: they feed the node
    census, the edge count, and all three join sides. The three scalar
    aggregates are cross-joined (single-row broadcast NLJs) into ONE
    returned plan — one job, cand computed once, and the plan audit sees
    the real scans/exchanges instead of a literal row (the previous
    three-action shape re-ran the persisted candidates per action and
    audited as an empty plan)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = _minhash_sig(docs)
    cand = _lsh_candidate_pairs(sig).persist()
    nodes = cand.select(F.col("doc_a").alias("x")).union(
        cand.select(F.col("doc_b").alias("x"))
    )
    e1, e2, e3 = cand.alias("e1"), cand.alias("e2"), cand.alias("e3")
    wedges = e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
    triangles = wedges.join(
        e3,
        (F.col("e3.doc_a") == F.col("e1.doc_a"))
        & (F.col("e3.doc_b") == F.col("e2.doc_b")),
    )
    return (
        nodes.agg(F.countDistinct("x").alias("n_nodes"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(triangles.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


# ---------------------------------------------------------------------------
# Asymmetric containment (subset/quote detection)
# ---------------------------------------------------------------------------

@query(
    "d_containment_pairs",
    oracle=f"""
    WITH {_ORACLE_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    rare AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= {SHINGLE_DOC_CAP}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      JOIN rare r ON r.sh = a.sh
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_shared,
           sa.n AS size_a, sb.n AS size_b,
           CAST(n_shared AS DOUBLE) / LEAST(sa.n, sb.n) AS containment
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_shared AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.8
    """,
    tags=("dedup", "containment"),
)
def d_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by shingle CONTAINMENT >= 0.8: |A∩B| / min(|A|,|B|).

    Jaccard misses subset relations (a doc quoted inside a much larger
    one scores ~|A|/|B| → 0), which is exactly the contamination shape
    that matters for training-data dedup; containment normalizes by the
    SMALLER set so a full quote scores 1.0 regardless of host size.

    Plan: one Arrow-batched shingle+hash stage, then pairs are emitted
    AT BUCKET LEVEL — groupBy(shingle) collects the (doc, size) list,
    the SHINGLE_DOC_CAP filter bounds it, and a codegen'd HOF expands
    ordered pairs — the same emission shape as d_minhash_lsh_pairs. Two
    shuffles total (8-byte shingle key, then pair key); no self-join,
    no window sort, and the per-shingle pair fan-out is ≤ CAP²/2 by
    construction. Measured ~40 % faster than the window+self-join
    formulation at sf0.1 and strictly fewer exchanges at 100 TB.

    r8 plan iteration (VERDICT r7 item 4): the pair-level exchange is
    the dominant cost, so its rows are kept minimal — sizes ride in the
    emitted struct as INTs (a shingle count is bounded by doc length)
    and the aggregate groups on the two doc ids ONLY, recovering the
    constant-per-doc sizes with max() instead of widening the group key
    to four columns. Measured at sf0.1: 0.85 s → ~0.70 s (paired ratio
    vs the DuckDB oracle ~1.75×, down from 2.1×).

    r17: NO size-ratio prune here, deliberately — the jaccard-style
    pair-prune (d_ngram_jaccard_pairs scale branch) is UNSOUND for
    min-normalized containment: n_shared/min(na,nb) can reach 1.0 at ANY
    size ratio (a small doc fully quoted inside a huge one is exactly
    the pair this operator exists to find), so no sizes-only predicate
    can drop a pair. PLANS.md r11 adjudicates the remaining gap as the
    pair-shuffle floor (~90% of pair occurrences are distinct pairs)."""
    docs = load_table(spark, sf_dir, "documents")

    def gen(batches):
        # nested + self-contained: executors cannot import dbt_fal_spark
        import pandas as pd

        for pdf in batches:
            ids, ns, shs = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:  # null text: excluded, matching split(NULL) SQL semantics
                    continue
                w = text.split(" ")
                if len(w) < 3:
                    continue
                uniq = {" ".join(t) for t in zip(w, w[1:], w[2:])}
                ids.extend([doc_id] * len(uniq))
                ns.extend([len(uniq)] * len(uniq))
                shs.extend(uniq)
            out = pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n": pd.Series(ns, dtype="int64"),
                }
            )
            out["sh"] = pd.util.hash_array(
                pd.Index(shs).to_numpy(dtype=object)
            ).astype("int64")
            yield out

    sh = spread(docs.select("doc_id", "text")).mapInPandas(
        gen, schema="doc_id long, n long, sh long"
    )
    buckets = (
        sh.groupBy("sh")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", F.col("n").cast("int").alias("n")))
            ).alias("ds")
        )
        .filter(F.size("ds").between(2, SHINGLE_DOC_CAP))
    )
    # ordered-pair expansion inside the bucket: sort_array makes doc_a <
    # doc_b deterministic, slice(i+2, ...) pairs each doc with its
    # successors only
    pairs_arr = F.expr(
        "flatten(transform(ds, (x, i) ->"
        " transform(slice(ds, i + 2, size(ds)), y ->"
        " struct(x.doc_id as doc_a, y.doc_id as doc_b,"
        " x.n as size_a, y.n as size_b))))"
    )
    pairs = (
        buckets.select(F.explode(pairs_arr).alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.max("p.size_a").cast("long").alias("size_a"),
            F.max("p.size_b").cast("long").alias("size_b"),
        )
        .select(
            F.col("doc_a"),
            F.col("doc_b"),
            F.col("size_a"),
            F.col("size_b"),
            F.col("n_shared"),
        )
    )
    containment = F.col("n_shared").cast("double") / F.least("size_a", "size_b")
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_shared",
        "size_a",
        "size_b",
        containment.alias("containment"),
    ).filter(F.col("containment") >= 0.8)


BLOOM_M = 65536  # bits
BLOOM_K = 3  # hash functions


@query(
    "d_bloom_prefilter",
    oracle=f"""
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                    i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS s
      FROM ws
    ),
    bench_bits AS (
      SELECT DISTINCT
             ('0x' || substr(md5(s || '#' || r::VARCHAR), 1, 8))::BIGINT
               % {BLOOM_M} AS bit
      FROM sh, generate_series(0, {BLOOM_K - 1}) AS g(r)
      WHERE doc_id < {DECON_BENCH_MAX_ID}
    ),
    probe AS (
      SELECT doc_id, s, g.r,
             ('0x' || substr(md5(s || '#' || g.r::VARCHAR), 1, 8))::BIGINT
               % {BLOOM_M} AS bit
      FROM sh, generate_series(0, {BLOOM_K - 1}) AS g(r)
      WHERE doc_id >= {DECON_BENCH_MAX_ID}
    ),
    hits AS (
      SELECT p.doc_id, p.s
      FROM probe p JOIN bench_bits b ON p.bit = b.bit
      GROUP BY p.doc_id, p.s HAVING count(*) = {BLOOM_K}
    )
    SELECT sh.doc_id,
           count(*) AS n_shingles,
           CAST(count(h.s) AS BIGINT) AS n_probable_hits
    FROM sh LEFT JOIN hits h ON sh.doc_id = h.doc_id AND sh.s = h.s
    WHERE sh.doc_id >= {DECON_BENCH_MAX_ID}
    GROUP BY sh.doc_id
    """,
    tags=("dedup", "decontamination", "sketch", "bloom"),
)
def d_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination prefilter, verified EXACTLY — the
    third classic sketch alongside e_hll_register_state and
    t_cms_heavy_hitters: the benchmark set's word-3-gram shingles set
    {BLOOM_K} md5-derived bits in a {BLOOM_M}-bit filter, and every
    training doc counts how many of its shingles are *probably* in the
    benchmark (all {BLOOM_K} bits set). The one-sided guarantee —
    n_probable_hits ≥ the true shared count — is what makes this the
    standard cheap FIRST pass before d_decontaminate's exact check.

    Scale shape (r5): the filter is a REAL packed bitmap — bench bits
    bit_or-aggregate into ≤ {BLOOM_M}/64 int64 words carried in ONE row
    as a word-index→word map (≈ 8 KB), broadcast onto the probe as a
    single-row spine join; every probe shingle tests its {BLOOM_K} bits
    map-side inside whole-stage codegen (the same md5s in a
    higher-order lambda ran interpreted — measured ~8× slower), and the
    only shuffle is the final doc_id-keyed count. At 100 TB the bloom
    costs a constant ~8 KB of executor memory where the exact inverted
    index costs the benchmark's full shingle set.
    """
    docs = load_table(spark, sf_dir, "documents")
    # split once per row, then O(1) element_at per shingle (the
    # slice()-based form copies a sub-array per position — O(words²)
    # per doc and it re-evaluates split() three times)
    words_col = F.split(F.col("text"), " ").alias("w")
    shingle_arr = F.expr(
        "CASE WHEN size(w) < 3 THEN array()"
        " ELSE array_distinct(transform(sequence(1, size(w) - 2),"
        " i -> concat(w[i - 1], ' ', w[i], ' ', w[i + 1]))) END"
    )
    # Build the ACTUAL bloom bitmap, fully distributed: the benchmark
    # set's bit positions (scan pruned on doc_id < DECON_BENCH_MAX_ID)
    # bit_or-aggregate into ≤ BLOOM_M/64 int64 words ≈ 8 KB, packed
    # into ONE row as a word-index→word map — no driver collect, no
    # separate job; the probe's broadcast hashes this single row.
    rs = F.explode(F.expr(f"sequence(0, {BLOOM_K - 1})")).alias("r")
    bit = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("s"), F.lit("#"), F.col("r").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % BLOOM_M
    )
    bitmap = (
        docs.filter(F.col("doc_id") < DECON_BENCH_MAX_ID)
        .select(words_col)
        .select(F.explode(shingle_arr).alias("s"))
        .select("s", rs)
        .select(bit.alias("bit"))
        .select(
            (F.col("bit") / 64).cast("int").alias("wi"),
            F.expr("shiftleft(cast(1 as bigint), cast(bit % 64 as int))").alias("w1"),
        )
        .groupBy("wi")
        .agg(F.expr("bit_or(w1)").alias("w"))
        .groupBy()
        .agg(F.map_from_entries(F.collect_list(F.struct("wi", "w"))).alias("bm"))
    )
    # Probe: explode distinct shingles (keeps the md5s inside
    # WholeStageCodegen — the same hashes inside a higher-order lambda
    # run interpreted, measured ~8× slower), test all BLOOM_K bits
    # against the broadcast single-row bitmap map-side (no join keyed
    # on shingles), then ONE doc_id-keyed aggregation.
    def _bit_pos(r: int):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.col("s"), F.lit(f"#{r}"))), 1, 8), 16, 10
            ).cast("bigint")
            % BLOOM_M
        ).alias(f"b{r}")

    hit = F.expr(
        " AND ".join(
            f"(shiftright(coalesce(element_at(bm, cast(b{r} div 64 as int)),"
            f" cast(0 as bigint)), cast(b{r} % 64 as int)) & 1) = 1"
            for r in range(BLOOM_K)
        )
    )
    return (
        spread(docs.filter(F.col("doc_id") >= DECON_BENCH_MAX_ID).select("doc_id", "text"))
        .select("doc_id", words_col)
        .select("doc_id", F.explode(shingle_arr).alias("s"))
        .select("doc_id", *[_bit_pos(r) for r in range(BLOOM_K)])
        .join(F.broadcast(bitmap))
        .select("doc_id", hit.cast("long").alias("hit"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("hit").alias("n_probable_hits"),
        )
    )
