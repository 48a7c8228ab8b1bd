"""Similarity search over the ``embeddings`` table (64-dim float vectors).

- cosine_topk — brute-force cosine top-k: queries (vec_id < 5) broadcast
  against all vectors; dot/norm computed JVM-side with zip_with/aggregate
  (no Python in the hot path).  Scores are rounded to 4dp on BOTH sides
  before ranking so float summation order can't flip the hash.
- ann_ivf    — the scale path: IVF with a FITTED coarse quantizer whose
  cell count SCALES with the corpus: K = max(16, ceil(n/128)) from a
  metadata-only count probe (fixed ~128-vector target cell size — the
  SemDeDup/FAISS regime), fit by a deterministic sampled k-means over a
  16·K-row hash-bounded sample (core/kmeans.py: sample → driver fit →
  broadcast — the FAISS/MLlib recipe, so the quantizer tracks the data
  distribution instead of freezing an arbitrary seed slice).  Every
  vector is assigned to its nearest centroid (a narrow literal-matrix
  argmax — no join, no shuffle), queries probe their top-2 nearest
  centroid cells only, then brute-force within the probed cells.  At
  100 TB the fit reads a bounded 16·K-row sample, the assignment is a
  narrow pass, and the search join shuffles on cell_id, touching
  ~n_probe·128 vectors per query instead of a fixed FRACTION of the
  corpus (with pinned K, 2/16 of 100 TB is still 12.5 TB per query —
  the round-3 scale-killer).  The oracle is a checked-in expected
  parquet from the INDEPENDENT mirror fit+search (oracle_mirror/ivf.py
  + scripts/gen_expected.py); tests/test_kmeans.py pins bit-equality of
  the two fits (including the K rule), tests/test_similarity.py holds
  recall ≥ 0.8 on a shifted (clustered + outlier) distribution where a
  seed-slice quantizer degrades, and tests/test_adversarial.py pins
  bounded per-cell candidate counts on a 10×-grown corpus.

Oracle input pin: ann_ivf's expected parquet and the centroid literals
inside the dedup_embedding_cosine oracle SQL are generated from
/root/testdata/sf0.01/embeddings.parquet — the driver's sf0.01 compare
input must be that same dataset (it is; TESTDATA.md).  Every query whose
oracle comes from that fit carries ``Q.sf_pin``: ``Q.run`` (the registry
entry) reads the pin whatever sf the harness passes, while ``Q.fn``
honours its ``sf_dir`` for bench and job use.  tests/test_oracle_parity.py
also registers a pinned query's DuckDB views from the pin, so the
rehearsal never pairs an sf0.001 corpus with an sf0.01 quantizer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_extractor_spark.core import kmeans
from pdf_extractor_spark.core import pq as pqspec
from pdf_extractor_spark.queries.base import (
    Q,
    load,
    rhu,
    rhu_sql,
    session_memo,
)

_N_QUERIES = 5
_TOP_K = 5
_N_PROBE = 2
_PINNED_SF = "/root/testdata/sf0.01"


def _dvec(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a) -> Column:
    return F.sqrt(_dot(a, a))


def _with_cosine(pairs: DataFrame, qcol: str, ecol: str) -> DataFrame:
    qv, ev = _dvec(F.col(qcol)), _dvec(F.col(ecol))
    # rhu, not F.round: scores feed rank/argmax comparisons that the
    # DuckDB oracle mirrors — a .xxxx5 boundary under HALF_UP-vs-HALF_EVEN
    # would flip a rank on one side only.
    return pairs.withColumn(
        "score", rhu(_dot(qv, ev) / (_norm(qv) * _norm(ev)), 4)
    )


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine(a, b) expression, rhu-rounded to 4dp (mirrors
    ``_with_cosine`` exactly — both engines evaluate the same IEEE ops)."""
    dot = (
        f"(SELECT sum(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)) "
        f"FROM unnest(range(1, len({a}) + 1)) AS u(i))"
    )
    na = (
        f"sqrt((SELECT sum(CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)) "
        f"FROM unnest(range(1, len({a}) + 1)) AS u(i)))"
    )
    nb = (
        f"sqrt((SELECT sum(CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)) "
        f"FROM unnest(range(1, len({b}) + 1)) AS u(i)))"
    )
    return rhu_sql(f"{dot} / ({na} * {nb})", 4)


def _cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    q = (
        e.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("q_id"),
                F.col("embedding").alias("q_emb"))
    )
    pairs = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_emb")
    ).crossJoin(F.broadcast(q))
    scored = _with_cosine(pairs, "q_emb", "n_emb").filter(
        F.col("q_id") != F.col("n_id")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "rank", "n_id", "score")
    )


_COSINE_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id < {_N_QUERIES}
),
pairs AS (
  SELECT q.q_id, e.vec_id AS n_id,
         {_cos_sql("q.q_emb", "e.embedding")} AS score
  FROM q, embeddings e
  WHERE q.q_id <> e.vec_id
)
SELECT q_id, rank, n_id, score FROM (
  SELECT q_id, n_id, score,
         row_number() OVER (
           PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS rank
  FROM pairs
) WHERE rank <= {_TOP_K}
"""


def _hash_sample(df: DataFrame, n: int) -> list[tuple[int, list[float]]]:
    """The embedding fits' sample: the first ``n`` rows of ``df`` in
    (md5(vec_id), vec_id) order, as driver-side (vec_id, vector) pairs in
    that order.  ``orderBy(...).limit(n)`` is a TakeOrdered — O(n) per
    partition and collects exactly n rows at ANY corpus size, so the
    driver never holds more than n×dim floats."""
    rows = (
        df.select(
            "vec_id", "embedding",
            F.md5(F.col("vec_id").cast("string")).alias("hk"),
        )
        .orderBy("hk", "vec_id")
        .limit(n)
        .collect()
    )
    return [(r.vec_id, [float(x) for x in r.embedding]) for r in rows]


def _fit_kmeans(corpus: DataFrame) -> list[list[float]]:
    """K from a count() probe, then the deterministic Lloyd fit on the
    16·K-row hash sample (memoized per session by the callers: that only
    saves the repeated sample scan + driver fit)."""
    k = kmeans.n_centroids(corpus.count())
    return kmeans.fit(_hash_sample(corpus, kmeans.n_fit_sample(k)), k=k)


def _fitted_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Corpus-scaled coarse-quantizer centroids: K = max(16, ceil(n/128))
    from a metadata-only count() probe, hash-bounded 16·K-row sample
    pulled to the driver, deterministic Lloyd fit (core/kmeans.py spec
    step 0); consumed as literal arrays by the narrow assignment
    expressions.  Scaling K with the corpus (fixed ~128-vector target
    cell size) is what keeps every consumer's within-cell work bounded
    as the corpus grows; the floor keeps sf≤0.1 inputs on the historical
    K=16/256-sample fit, so the pinned mirror oracles are unchanged."""
    return session_memo(
        spark, ("centroids", sf_dir),
        lambda: _fit_kmeans(load(spark, sf_dir, "embeddings")),
    )


def _sql_double_lit(x: float) -> str:
    """A Spark-SQL literal that parses to exactly this IEEE double.
    ``repr(float)`` is the shortest round-tripping decimal; both CPython
    and the JVM parse decimal→binary with correct rounding, so the text
    recovers the identical bits.  Scientific notation already types as
    DOUBLE in Spark SQL; plain decimals need the D suffix (they would
    otherwise parse as DECIMAL)."""
    s = repr(float(x))
    return s if ("e" in s or "E" in s or s in ("inf", "-inf", "nan")) \
        else s + "D"


def _sql_double_array(vals: list[float]) -> str:
    return "array(" + ",".join(_sql_double_lit(v) for v in vals) + ")"


def _sql_double_matrix(rows: list[list[float]]) -> str:
    return "array(" + ",".join(_sql_double_array(r) for r in rows) + ")"


def _cell_scores(emb_col, cents: list[list[float]]):
    """array<struct<score, neg_cell>> of rhu4 cosine against every fitted
    centroid, built entirely from LITERALS — the coarse-quantizer
    assignment as a NARROW per-row expression.  The previous shape
    (crossJoin with a K-row centroid table + row_number window) pushed
    K× the corpus through a shuffle just to pick each row's argmax; at
    100 TB that is petabytes of exchange for a per-row computation.
    Centroid norms are precomputed with the identical left fold
    (core/kmeans._dot + math.sqrt), so scores match the DuckDB/mirror
    oracles bit for bit.  The literal matrix is K×dim doubles — fine
    through K ≈ 1024 (~0.5 MB per task binary); past that a deployment
    moves to the two-level quantizer regime (job/ivf_index.py)."""
    import math as _math

    v = _dvec(emb_col)
    nv = _norm(v)
    # ONE nested-array literal for the centroid matrix and one for the
    # norms (precomputed with the identical left fold): a per-centroid
    # expansion (K × dim F.lit leaves + K fold subtrees) costs Catalyst
    # seconds of analysis per query construction.  The literals are
    # emitted as a single F.expr SQL string, not F.lit(list): PySpark's
    # list literal makes a py4j round-trip per element (K×dim ≈ 1000+
    # calls ≈ 1 s of pure driver latency PER expression build, measured),
    # while one expr string is one call parsed JVM-side.  Shortest-repr
    # float text round-trips to the identical IEEE double in both
    # parsers, so scores stay bit-equal to the mirror oracles.
    matrix = F.expr(_sql_double_matrix(
        [[float(x) for x in c] for c in cents]
    ))
    norms = F.expr(_sql_double_array(
        [_math.sqrt(kmeans._dot(c, c)) for c in cents]
    ))
    return F.transform(
        matrix,
        lambda c, j: F.struct(
            rhu(_dot(v, c) / (nv * norms[j]), 4).alias("score"),
            (-j).cast("bigint").alias("neg_cell"),
        ),
    )


def _assign_cells(vecs: DataFrame, cents: list[list[float]],
                  emb_col: str, score_col: str | None = None) -> DataFrame:
    """cell_id of the nearest fitted centroid per row (ties → lowest
    cell, via max over (score, -cell)).  Pure map — no join, no shuffle.
    ``score_col`` additionally keeps the rhu4 cosine to the ASSIGNED
    centroid (the SemDeDup keep-rule input) — same narrow expression,
    no extra pass.

    Small-input guard: k×dim interpreted fold work per row wants all
    cores, but a bench-scale corpus arrives as one parquet file = one
    partition, so fan out first.  At cluster scale the input already has
    thousands of partitions and the guard is a no-op — the assignment
    stays the narrow pass it should be (the old crossJoin+window shape
    moved 16× the corpus through an exchange instead)."""
    para = vecs.sparkSession.sparkContext.defaultParallelism
    if vecs.rdd.getNumPartitions() < para:
        vecs = vecs.repartition(para)
    best = F.array_max(_cell_scores(F.col(emb_col), cents))
    # ONE select, not chained withColumn: each withColumn re-analyzes
    # the whole projection, and with the K×dim literal matrix in the
    # tree that re-analysis is the dominant driver-side cost (measured
    # 0.4-0.7 s per extra pass at K=16)
    extra = [(-best["neg_cell"]).alias("cell_id")]
    if score_col is not None:
        extra.append(best["score"].alias(score_col))
    return vecs.select("*", *extra)


def _probe_cells(df: DataFrame, emb_col: str, cents: list[list[float]],
                 n_probe: int) -> DataFrame:
    """Explode each row into its top-``n_probe`` nearest cells (ordered
    score DESC, cell_id ASC) — the query-side probe set, also narrow."""
    scores = _cell_scores(F.col(emb_col), cents)
    top = F.slice(F.reverse(F.array_sort(scores)), 1, n_probe)
    # map struct → cell id INSIDE the array, then one top-level explode
    # in a single select (generators can't nest inside expressions, and
    # chained withColumn re-analyzes the literal-heavy plan per call —
    # same one-analysis-pass rationale as _assign_cells)
    cell_ids = F.transform(top, lambda s: -s["neg_cell"])
    return df.select("*", F.explode(cell_ids).alias("cell_id"))


def _ivf_search(corpus: DataFrame, queries: DataFrame,
                cents: list[list[float]]) -> DataFrame:
    """The IVF search shape shared by ann_ivf and ann_ivf_scaled:
    narrow assignment, narrow query probe, one cell_id-keyed join."""
    # assignment: narrow argmax against the broadcast-as-literals fit
    cells = _assign_cells(
        corpus.select(F.col("vec_id").alias("n_id"),
                      F.col("embedding").alias("n_emb")),
        cents, "n_emb",
    )

    # queries probe their top-N_PROBE cells (narrow explode)
    probes = _probe_cells(
        queries.select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_emb")),
        "q_emb", cents, _N_PROBE,
    )

    # search only within probed cells — the ONLY shuffle in the query,
    # keyed on cell_id, touching ~n_probe/k of the corpus
    cand = probes.join(cells, "cell_id").filter(
        F.col("q_id") != F.col("n_id")
    )
    scored = _with_cosine(cand, "q_emb", "n_emb")
    w_rank = Window.partitionBy("q_id").orderBy(
        F.desc("score"), F.asc("n_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "rank", "n_id", "score", "cell_id")
    )


def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return _ivf_search(
        e, e.filter(F.col("vec_id") < _N_QUERIES),
        _fitted_centroids(spark, sf_dir),
    )


# ----------------------------------------- scaled-K fit (above the floor)

_EXPAND_OFFSET = 1_000_000


def _expanded_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5× derived vector corpus: the base table plus four EXACT
    per-vector transforms (reverse, two rotations, alternate negation —
    pure permutation/sign ops, so no float rounding enters the
    derivation and the mirror reproduces every vector bit-for-bit).
    The four variants point in genuinely different directions (cosine is
    scale- but not permutation-invariant), so the fit sees a real
    5×-denser distribution, not degenerate copies.  At the sf0.01 pin:
    2500 rows → K = ceil(2500/128) = 20 — ABOVE the K=16 floor, which
    is the whole point (every other driver-gate input sits under the
    2048-row knee and exercises only the historical floor fit)."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = F.size("embedding")

    def rot(k: int):
        return F.concat(
            F.slice("embedding", k + 1, dim - k),
            F.slice("embedding", 1, k),
        )

    neg_alt = F.transform(
        "embedding",
        lambda x, i: (
            x.cast("double") * (F.lit(1) - 2 * (i % 2))
        ).cast("float"),
    )
    variants = [F.reverse("embedding"), rot(13), neg_alt, rot(29)]
    out = e
    for j, v in enumerate(variants, start=1):
        out = out.unionByName(e.select(
            (F.col("vec_id") + _EXPAND_OFFSET * j).alias("vec_id"),
            v.alias("embedding"),
        ))
    return out


def _scaled_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The same spec as ``_fitted_centroids`` driven ABOVE the K floor:
    count probe on the derived corpus (a narrow scan of the base table —
    at scale the count is base_count × 5, known without a scan), K from
    the corpus-scaled rule, 16·K-row hash-bounded TakeOrdered sample,
    deterministic driver Lloyd fit."""
    return session_memo(
        spark, ("scaled_centroids", sf_dir),
        lambda: _fit_kmeans(_expanded_corpus(spark, sf_dir)),
    )


def _ann_ivf_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_ivf with a K > floor quantizer: the 5×-expanded corpus pushes
    the K rule past the 16 floor (K=20 at the sf0.01 pin), so the
    corpus-scaled fit path — bigger sample, more Lloyd cells, wider
    literal matrix — is what the driver hash-checks end-to-end, not just
    the adversarial pytest (VERDICT r4 ask #5).  Oracle = checked-in
    expected parquet from the independent mirror expansion + fit +
    search (oracle_mirror/ivf.py, scripts/gen_expected.py)."""
    e = load(spark, sf_dir, "embeddings")
    return _ivf_search(
        _expanded_corpus(spark, sf_dir),
        e.filter(F.col("vec_id") < _N_QUERIES),
        _scaled_centroids(spark, sf_dir),
    )


# ------------------------------------------------- IVF-PQ (compressed ANN)

def _pq_codebooks(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """Product-quantizer codebooks (core/pq.py spec): the same
    hash-ordered TakeOrdered sample rule as the coarse-quantizer fit —
    256 rows to the driver at ANY corpus size — then a deterministic
    per-subspace Lloyd fit.  Memoized per (app, sf_dir) like the centroid
    fit; the codebooks land in the query plan as literal matrices."""
    return session_memo(
        spark, ("pq_codebooks", sf_dir),
        lambda: pqspec.fit_codebooks(_hash_sample(
            load(spark, sf_dir, "embeddings"), pqspec.N_PQ_SAMPLE
        )),
    )


def _sq_l2_fold(a, b) -> Column:
    """Ascending-index left fold Σ(a[i]−b[i])² — the PQ spec's distance
    (identical IEEE op sequence to core/pq._sq_l2 / the mirror's _d2;
    (x−y)² and (y−x)² are bit-equal, so operand order is free)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _unit_over(emb_col, norm_col) -> Column:
    """float64 unit vector given a precomputed norm column (the norm is
    materialized once per row in a prior projection so the fold isn't
    re-evaluated per element inside the transform lambda)."""
    return F.transform(_dvec(emb_col), lambda x: x / norm_col)


def _pq_code_exprs(unit, cb_lits: list[Column], dsub: int) -> list[Column]:
    """Per-subspace nearest-code index (spec step 5) as narrow literal
    expressions: argmin over the KS codebook entries via array_min on
    (distance, code) structs — lexicographic min keeps the LOWEST code
    on a tie, exactly the mirror's strict-< scan."""
    def _scorer(sub):
        # a real closure, not a default-arg capture: PySpark derives the
        # higher-order-function arity from the lambda's parameter count
        return lambda c, j: F.struct(
            _sq_l2_fold(sub, c).alias("d"), j.alias("code")
        )

    out = []
    for m, cb in enumerate(cb_lits):
        sub = F.slice(unit, m * dsub + 1, dsub)
        out.append(F.array_min(F.transform(cb, _scorer(sub)))["code"])
    return out


def _adc_expr(qn, codes_col, cb_lits: list[Column], dsub: int) -> Column:
    """ADC distance (spec step 6): left-associated sum over subspaces of
    the squared-L2 between the exact query subvector and the candidate's
    decoded codebook entry — M element_at lookups + M folds per pair, no
    dim-wide work on the candidate side."""
    acc = None
    for m, cb in enumerate(cb_lits):
        qsub = F.slice(qn, m * dsub + 1, dsub)
        entry = F.element_at(cb, F.element_at(codes_col, m + 1) + 1)
        term = _sq_l2_fold(qsub, entry)
        acc = term if acc is None else acc + term
    return acc


def _ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the memory-scale ANN path (FAISS ``IVF,PQ8`` shape).

    ann_ivf bounds how many candidates a probe touches; PQ bounds what
    each candidate COSTS: the index stores M=8 one-byte codes per vector
    instead of the 256-byte raw embedding (32× smaller — 100 TB of fp32
    embeddings compress to ~3 TB of codes), and scoring is 8 lookup-adds
    per candidate instead of a 64-wide cosine.  Vectors are L2-normalized
    before encoding, so ascending approximate squared-L2 ranks identically
    to descending approximate cosine (‖q−v‖² = 2−2·cos on unit vectors).

    Plan shape: both fits are bounded driver-side samples broadcast as
    literals; cell assignment, PQ encode, and the query probe are narrow
    per-row expressions; the ONLY shuffle is the cell_id-keyed
    probe-candidate join (same as ann_ivf); ADC scoring and the per-query
    top-k window run on the ~n_probe·128-candidate result.  Oracle =
    checked-in expected parquet from the INDEPENDENT mirror fit + encode
    + search (oracle_mirror/pq.py + scripts/gen_expected.py);
    tests/test_pq.py pins bit-equality of the two PQ fits."""
    cents = _fitted_centroids(spark, sf_dir)
    books = _pq_codebooks(spark, sf_dir)
    dsub = len(books[0][0])
    cb_lits = [
        F.expr(_sql_double_matrix([[float(x) for x in c] for c in book]))
        for book in books
    ]

    e = load(spark, sf_dir, "embeddings")

    # corpus side: narrow cell assignment + narrow PQ encode — the
    # norm is materialized in its own projection so the unit-vector
    # transform doesn't re-run the fold per element
    cells = _assign_cells(
        e.select(F.col("vec_id").alias("n_id"),
                 F.col("embedding").alias("n_emb")),
        cents, "n_emb",
    ).select("n_id", "cell_id", "n_emb",
             _norm(_dvec(F.col("n_emb"))).alias("nv"))
    coded = cells.select(
        "n_id", "cell_id",
        F.array(*_pq_code_exprs(
            _unit_over(F.col("n_emb"), F.col("nv")), cb_lits, dsub
        )).alias("codes"),
    )

    # query side: probe the top-N_PROBE cells, carry the exact
    # normalized query vector for ADC
    probes = _probe_cells(
        e.filter(F.col("vec_id") < _N_QUERIES)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_emb")),
        "q_emb", cents, _N_PROBE,
    ).select("q_id", "cell_id", "q_emb",
             _norm(_dvec(F.col("q_emb"))).alias("nv"))
    probes = probes.select(
        "q_id", "cell_id",
        _unit_over(F.col("q_emb"), F.col("nv")).alias("qn"),
    )

    # the one shuffle: candidates from probed cells only
    cand = probes.join(coded, "cell_id").filter(
        F.col("q_id") != F.col("n_id")
    )
    scored = cand.select(
        "q_id", "n_id", "cell_id",
        rhu(_adc_expr(F.col("qn"), F.col("codes"), cb_lits, dsub), 4)
        .alias("adist"),
    )
    w_rank = Window.partitionBy("q_id").orderBy(
        F.asc("adist"), F.asc("n_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "rank", "n_id", "adist", "cell_id")
    )


_SHORTLIST_R = 20


def _ann_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVF-PQ search: ADC shortlist, then EXACT re-rank — the
    production FAISS serving pattern (PQ at 8 bytes/vector is a faithful
    shortlist generator but cannot micro-rank near-identical neighbors;
    tests/test_pq.py pins exactly that trade).

    Stage 1 scores every probed-cell candidate with the 8-lookup ADC
    distance and keeps the top ``_SHORTLIST_R`` per query.  Stage 2
    fetches ONLY those R×n_queries raw vectors — the shortlist is tiny,
    so the re-fetch is a BROADCAST join against the embeddings scan (no
    corpus shuffle; at 100 TB the refine stage reads back a few thousand
    rows, not the index) — and re-ranks them by exact rhu4 cosine.

    Output ranks are exact-cosine ranks over the shortlist; the oracle
    is the independent mirror's identical two-stage search
    (scripts/gen_expected.py gen_ann_ivf_pq_rerank)."""
    cents = _fitted_centroids(spark, sf_dir)
    books = _pq_codebooks(spark, sf_dir)
    dsub = len(books[0][0])
    cb_lits = [
        F.expr(_sql_double_matrix([[float(x) for x in c] for c in book]))
        for book in books
    ]

    e = load(spark, sf_dir, "embeddings")

    cells = _assign_cells(
        e.select(F.col("vec_id").alias("n_id"),
                 F.col("embedding").alias("n_emb")),
        cents, "n_emb",
    ).select("n_id", "cell_id", "n_emb",
             _norm(_dvec(F.col("n_emb"))).alias("nv"))
    coded = cells.select(
        "n_id", "cell_id",
        F.array(*_pq_code_exprs(
            _unit_over(F.col("n_emb"), F.col("nv")), cb_lits, dsub
        )).alias("codes"),
    )

    queries = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    probes = _probe_cells(queries, "q_emb", cents, _N_PROBE).select(
        "q_id", "cell_id",
        _norm(_dvec(F.col("q_emb"))).alias("nv"), "q_emb",
    )
    probes = probes.select(
        "q_id", "cell_id",
        _unit_over(F.col("q_emb"), F.col("nv")).alias("qn"),
    )

    # stage 1: ADC shortlist (top-R per query by approximate distance)
    cand = probes.join(coded, "cell_id").filter(
        F.col("q_id") != F.col("n_id")
    )
    scored = cand.select(
        "q_id", "n_id",
        rhu(_adc_expr(F.col("qn"), F.col("codes"), cb_lits, dsub), 4)
        .alias("adist"),
    )
    w_short = Window.partitionBy("q_id").orderBy(
        F.asc("adist"), F.asc("n_id")
    )
    shortlist = (
        scored.withColumn("r", F.row_number().over(w_short))
        .filter(F.col("r") <= _SHORTLIST_R)
        .select("q_id", "n_id")
    )

    # stage 2: fetch the R×n_queries raw vectors via BROADCAST joins and
    # re-rank by exact cosine (rhu4, same contract as cosine_topk)
    fetched = e.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_emb")
    ).join(F.broadcast(shortlist), "n_id")
    pairs = fetched.join(F.broadcast(queries), "q_id")
    exact = _with_cosine(pairs, "q_emb", "n_emb")
    w_rank = Window.partitionBy("q_id").orderBy(
        F.desc("score"), F.asc("n_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "rank", "n_id", "score")
    )


def _embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Norm/label profile of the vector corpus — the sanity scan a pipeline
    runs before indexing (JVM-side array math, partial agg)."""
    e = load(spark, sf_dir, "embeddings")
    v = _dvec(F.col("embedding"))
    per = e.select(
        "label",
        rhu(_norm(v), 4).alias("norm"),
        F.size("embedding").cast("bigint").alias("dim"),
    )
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        rhu(F.min("norm"), 4).alias("min_norm"),
        rhu(F.max("norm"), 4).alias("max_norm"),
        rhu(F.avg("norm"), 3).alias("avg_norm"),
        F.max("dim").alias("dim"),
    )


_EMB_STATS_SQL = f"""
WITH per AS (
  SELECT label,
         {rhu_sql(
             "sqrt((SELECT sum(CAST(embedding[i] AS DOUBLE)"
             " * CAST(embedding[i] AS DOUBLE))"
             " FROM unnest(range(1, len(embedding) + 1)) AS u(i)))", 4)}
           AS norm,
         len(embedding) AS dim
  FROM embeddings
)
SELECT label, count(*) AS n_vecs,
       {rhu_sql("min(norm)", 4)} AS min_norm,
       {rhu_sql("max(norm)", 4)} AS max_norm,
       {rhu_sql("avg(norm)", 3)} AS avg_norm,
       max(dim) AS dim
FROM per GROUP BY label
"""


_NEAR_DUP_THRESHOLD = 0.95


def _dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by IVF cell.

    Corpus = embeddings ∪ jittered copies of every 10th vector
    (deterministic near-dups so the operator has real work at every
    scale).  Blocking key is the FITTED coarse-quantizer cell (same
    sampled-k-means assignment as ``ann_ivf``), NOT a fixed-cardinality
    attribute: K = max(16, ceil(n/128)) scales with the corpus-size
    probe (kmeans.n_centroids), so per-block pair counts genuinely stay
    bounded (~128²/2 per cell) as the corpus grows — with a PINNED K
    each cell holds n/K vectors and the within-cell self-join trends
    O(n²/K), the round-3 scale-killer; a label-style block would go
    quadratic outright, and unfitted seed cells collapse under
    distribution shift (tests/test_adversarial.py pins both the shifted
    distribution and the 10×-growth bound).  Cosine is scale-invariant,
    so a jittered copy lands in the same cell as its source and is
    always a candidate.  The oracle SQL blocks on the same cells via
    centroid literals from the independent mirror fit
    (oracle_mirror/ivf.py, on the pinned sf0.01 input); DuckDB evaluates
    assignment, cosine, and threshold itself.
    """
    pairs = _near_dup_pairs_cached(spark, sf_dir)
    return pairs.select("id_a", "id_b", "score")


def _jittered_cells(spark: SparkSession, sf_dir: str,
                    score_col: str | None = None) -> DataFrame:
    """The shared near-dup test corpus (embeddings ∪ jittered copies of
    every 10th vector), cell-assigned with the fitted quantizer —
    consumed by both ``dedup_embedding_cosine`` and ``dedup_semantic``
    so the two operators see the identical blocking."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    jitter = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1.001).cast("float")
        ).alias("embedding"),
    )
    corpus = e.unionByName(jitter)
    return _assign_cells(
        corpus, _fitted_centroids(spark, sf_dir), "embedding", score_col
    )


def _near_dup_pairs(cells: DataFrame) -> DataFrame:
    """Within-cell pairs at cosine ≥ threshold (id_a < id_b) — the ONLY
    shuffle is the cell_id-keyed self-join over bounded blocks."""
    a = cells.select(
        F.col("vec_id").alias("id_a"), F.col("cell_id"),
        F.col("embedding").alias("emb_a"),
    )
    b = cells.select(
        F.col("vec_id").alias("id_b"), F.col("cell_id"),
        F.col("embedding").alias("emb_b"),
    )
    pairs = a.join(b, "cell_id").filter(F.col("id_a") < F.col("id_b"))
    scored = _with_cosine(pairs, "emb_a", "emb_b")
    return scored.filter(F.col("score") >= _NEAR_DUP_THRESHOLD)


# the scored near-dup pair table per (Spark app, sf_dir):
# dedup_embedding_cosine and dedup_semantic both consume it (pair
# emission vs survivor selection over the SAME pairs) — the first caller
# materializes it once, the production "materialize the pair table, then
# decide" shape (same rationale as dedup.py's _minhash_pairs_cached)
def _near_dup_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_memo(
        spark, ("near_dup_pairs", sf_dir),
        lambda: _near_dup_pairs(
            _jittered_cells(spark, sf_dir)
        ).localCheckpoint(eager=False),
    )


def _dedup_cosine_sql() -> str:
    """Oracle SQL with mirror-fit centroid literals — DEFERRED: building
    it runs the oracle-side k-means (oracle_mirror/ivf.py), which must
    not execute at module import (executor Python workers import this
    package for UDF closures; paying a fit per worker showed up as
    +0.5 s on the first pandas-UDF query of a session)."""
    from pdf_extractor_spark.oracle_mirror.ivf import centroid_sql_literals

    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(embedding,
             x -> CAST(CAST(x AS DOUBLE) * 1.001 AS FLOAT)) AS embedding
  FROM embeddings WHERE vec_id % 10 = 0
),
cents AS (
  SELECT cell_id, c_emb FROM {centroid_sql_literals(_PINNED_SF + "/embeddings.parquet")}
),
assigned AS (
  SELECT v.vec_id, v.embedding, c.cell_id,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY {_cos_sql("c.c_emb", "v.embedding")} DESC,
                    c.cell_id ASC) AS r
  FROM corpus v, cents c
),
cells AS (
  SELECT vec_id, embedding, cell_id FROM assigned WHERE r = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_cos_sql("a.embedding", "b.embedding")} AS score
  FROM cells a JOIN cells b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, score FROM pairs
WHERE score >= {_NEAR_DUP_THRESHOLD}
"""


def _dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: within each fitted-quantizer cell,
    group transitively-connected near-dup vectors (cosine ≥ threshold)
    and keep ONE survivor per group — the member with the LOWEST cosine
    to its assigned centroid (the SemDeDup keep rule: retain the example
    farthest from the cluster's center of mass; tie → lowest vec_id).

    Scale shape: narrow literal-matrix cell assignment (cent_score rides
    the same expression), a cell_id-keyed pair join over bounded blocks,
    connected components over the EDGE set only (queries/dedup.py
    cc_labels — tiny vs the corpus), then the keep rule as two
    map-side-combining hash aggs + keyed joins: min cent_score per
    group, min vec_id among members at that score.  A per-group window
    would pile a mega-group onto one task; the agg+join shape
    partial-aggregates on the mappers (plan-gated).  Output is only the
    duplicate-group members (≪ corpus).

    Oracle: the same pinned mirror-fit centroid literals as
    ``dedup_embedding_cosine``, an independent recursive-CTE closure for
    the groups (the dedup_clusters oracle strategy), and the keep rule
    restated as a row_number — different algorithms on every axis, so a
    propagation or keep-rule bug cannot self-certify."""
    from pdf_extractor_spark.queries.dedup import cc_labels

    cells = _jittered_cells(spark, sf_dir, score_col="cent_score")
    edges = _near_dup_pairs_cached(spark, sf_dir).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    lab = cc_labels(edges).select(
        F.col("doc_id").alias("vec_id"), F.col("label").alias("group_id")
    )
    members = lab.join(
        cells.select("vec_id", "cell_id", "cent_score"), "vec_id"
    )
    # keep rule as ONE map-side-combining HASH agg: "lowest cent_score,
    # tie → lowest vec_id" is the lexicographic min over the pair, and
    # the pair packs into one orderable BIGINT — cent_score is rhu4
    # (exactly ±10000 quarter-steps ×1e-4), so round(cs·1e4) recovers
    # its integer grid losslessly and key = cs_int·2⁴² + vec_id is
    # order-preserving and injective while vec_id < 2⁴² (≈4.4e12 ids —
    # comfortably above the 100-TB design point).  A struct-min (or
    # min_by) expresses the same thing but Spark plans struct-ordered
    # aggregates as SortAggregate; the packed key keeps the partial+
    # final HashAggregate shape the plan gate pins.  vs the previous
    # two-agg chain (min score → join → filter → min id) this drops one
    # exchange + one join over the member table (r5 A/B in BENCH.md).
    _shift = F.lit(1 << 42).cast("bigint")
    packed = (
        F.round(F.col("cent_score") * 10000).cast("bigint") * _shift
        + F.col("vec_id")
    )
    keep = members.groupBy("group_id").agg(
        F.min(packed).alias("_k")
    ).select("group_id", F.pmod("_k", _shift).alias("_keep_id"))
    return members.join(keep, "group_id").select(
        "vec_id", "group_id", "cell_id", "cent_score",
        (F.col("vec_id") == F.col("_keep_id")).alias("is_keep"),
    )


def _dedup_semantic_sql() -> str:
    """Deferred for the same reason as ``_dedup_cosine_sql`` (the mirror
    fit must not run at module import)."""
    from pdf_extractor_spark.oracle_mirror.ivf import centroid_sql_literals

    return f"""
WITH RECURSIVE corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(embedding,
             x -> CAST(CAST(x AS DOUBLE) * 1.001 AS FLOAT)) AS embedding
  FROM embeddings WHERE vec_id % 10 = 0
),
cents AS (
  SELECT cell_id, c_emb FROM {centroid_sql_literals(_PINNED_SF + "/embeddings.parquet")}
),
assigned AS (
  SELECT v.vec_id, v.embedding, c.cell_id,
         {_cos_sql("c.c_emb", "v.embedding")} AS cscore,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY {_cos_sql("c.c_emb", "v.embedding")} DESC,
                    c.cell_id ASC) AS r
  FROM corpus v, cents c
),
cells AS (
  SELECT vec_id, embedding, cell_id, cscore AS cent_score
  FROM assigned WHERE r = 1
),
dup AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cells a JOIN cells b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE {_cos_sql("a.embedding", "b.embedding")} >= {_NEAR_DUP_THRESHOLD}
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM dup
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM dup
),
nodes AS (SELECT DISTINCT u AS vec_id FROM edges),
reach(vec_id, root) AS (
  SELECT vec_id, vec_id AS root FROM nodes
  UNION
  SELECT e.v AS vec_id, r.root
  FROM reach r JOIN edges e ON e.u = r.vec_id
),
lab AS (
  SELECT vec_id, min(root) AS group_id FROM reach GROUP BY vec_id
),
members AS (
  SELECT l.vec_id, l.group_id, c.cell_id, c.cent_score
  FROM lab l JOIN cells c ON c.vec_id = l.vec_id
)
SELECT vec_id, group_id, cell_id, cent_score,
       row_number() OVER (
         PARTITION BY group_id
         ORDER BY cent_score ASC, vec_id ASC) = 1 AS is_keep
FROM members
"""


QUERIES: list[Q] = [
    # sf_pin: the oracle content (centroid literals in the SQL, expected
    # parquet) is generated from the pinned sf0.01 input, so Q.run reads
    # the pin — at any other sf the two sides would block on different
    # quantizers and agree only by coincidence.  The rehearsal also
    # registers the oracle's DuckDB views from the pin.
    Q("dedup_embedding_cosine", _dedup_embedding_cosine,
      _dedup_cosine_sql,
      "embedding-cosine near-dup pairs, blocked by fitted IVF "
      "coarse-quantizer cell (pinned sf0.01 quantizer oracle)",
      sf_pin=_PINNED_SF),
    Q("dedup_semantic", _dedup_semantic, _dedup_semantic_sql,
      "SemDeDup-style survivor selection: connected components over "
      "cell-blocked cosine near-dup pairs, keep the member farthest "
      "from its assigned centroid (pinned sf0.01 quantizer oracle)",
      sf_pin=_PINNED_SF),
    Q("cosine_topk", _cosine_topk, _COSINE_SQL,
      "brute-force cosine top-k (exact baseline)"),
    Q("ann_ivf", _ann_ivf,
      "SELECT * FROM read_parquet('/root/repo/expected/ann_ivf.parquet')",
      "IVF ANN with fitted sampled-k-means quantizer (scale path); oracle "
      "is a checked-in independent sequential mirror at the pinned sf0.01",
      sf_pin=_PINNED_SF),
    Q("ann_ivf_scaled", _ann_ivf_scaled,
      "SELECT * FROM read_parquet("
      "'/root/repo/expected/ann_ivf_scaled.parquet')",
      "IVF ANN with the quantizer K ABOVE the floor (K=20 from a "
      "5×-expanded exact-transform corpus) — drives the corpus-scaled "
      "fit path through the driver hash gate; oracle is the independent "
      "mirror expansion+fit+search at the pinned sf0.01",
      sf_pin=_PINNED_SF),
    Q("ann_ivf_pq", _ann_ivf_pq,
      "SELECT * FROM read_parquet('/root/repo/expected/ann_ivf_pq.parquet')",
      "IVF-PQ compressed ANN (FAISS IVF,PQ8 shape): 8 one-byte codes per "
      "vector (32× smaller index), ADC lookup scoring inside probed "
      "cells; oracle is the independent mirror fit+encode+search at the "
      "pinned sf0.01",
      sf_pin=_PINNED_SF),
    Q("ann_ivf_pq_rerank", _ann_ivf_pq_rerank,
      "SELECT * FROM read_parquet("
      "'/root/repo/expected/ann_ivf_pq_rerank.parquet')",
      "two-stage IVF-PQ search (FAISS refine pattern): ADC shortlist of "
      "20 per query, then exact rhu4-cosine re-rank over only those raw "
      "vectors (broadcast refine join, no corpus shuffle); oracle is the "
      "independent mirror two-stage search at the pinned sf0.01",
      sf_pin=_PINNED_SF),
    Q("embedding_stats", _embedding_stats, _EMB_STATS_SQL,
      "vector corpus norm/label profile"),
]
