"""Deduplication operators over ``documents`` — the core of a training-data
pipeline at 100 TB scale.

Four strategies, Spark-first:

- exact        — md5 fingerprint groupBy (hash agg; map-side partial).
- minhash_lsh  — shingle → K minhash signatures → banded LSH bucket join →
  candidate pairs.  Each shingle is md5-hashed ONCE to a 28-bit base hash;
  the K signatures are universal-hash permutations ``(a_k·h + b_k) mod P``
  of that base (the textbook one-hash-K-permutations MinHash — K× less
  hashing than K independent md5s, engine-portable integer arithmetic,
  and every product stays < 2^56 so ANSI int64 never overflows); the
  self-join runs on band buckets only, never all-pairs.
- ngram_jaccard — inverted-index shingle join → exact Jaccard on candidate
  pairs (pairs must share ≥1 shingle, so the join is bounded by shingle
  collisions, not |docs|²).
- simhash      — 32-bit sign-aggregated token hash (bit arithmetic in pure
  JVM expressions), grouped by 8-bit bands for near-dup candidate buckets.

A derived corpus (documents ∪ deterministic exact copies ∪ deterministic
near-copies) gives the dedup operators real duplicates at every scale; the
derivation is identical SQL/DataFrame logic on both sides.

Scale notes (100 TB design): every stage is shuffle-on-key only — the
corpus is hash-repartitioned on doc_id ONCE before shingling, which the
shingle-distinct AND the per-doc signature agg both reuse (doc_id is a
subset of every downstream key, so Catalyst elides their exchanges; the
one exchange moves raw text, strictly smaller than the exploded shingle
set the old plan shuffled — and at bench scale it also spreads the
hash-heavy map work across all cores instead of the tiny file's 3 input
splits).  The LSH bucket join shuffles on (band_no, band_hash) whose
cardinality grows with corpus size (no skew pileup: identical docs hash
to the same bucket but near-dup groups are small); nothing collects to
the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extractor_spark.queries.base import (
    Q,
    free_checkpoint,
    load,
    rhu,
    rhu_sql,
    session_memo,
)

_N_MINHASH = 8      # K signatures
_BAND_ROWS = 2      # rows per LSH band → 4 bands

# Universal-hash family for the K MinHash permutations: sig_k(shingle) =
# min over shingles of (A[k]·h + B[k]) mod P, where h is the first 7 hex
# chars of md5(shingle) (28 bits).  P is the largest prime < 2^28, so
# A[k]·h < 2^56 — safe int64 arithmetic under Spark's default ANSI mode
# and bit-identical in DuckDB (both use checked two's-complement BIGINT).
# Constants are fixed primes (any 2-universal (a, b) works; pinned
# literals keep the Spark query, the DuckDB oracle, and the persisted
# dedup-store band keys in lockstep).
_MINHASH_P = 268435399
_MINHASH_A = (15485863, 32452843, 49979687, 67867967,
              86028121, 104395301, 122949823, 141650939)
_MINHASH_B = (2038074743, 77557187, 37139213, 57885161,
              30402457, 25964951, 24036583, 20996011)
assert all(0 < a < _MINHASH_P for a in _MINHASH_A)
_MINHASH_B = tuple(b % _MINHASH_P for b in _MINHASH_B)
_SHINGLE_K = 3      # words per shingle


# ------------------------------------------------- derived dup-bearing corpus

# id offsets for the derived copies; _COPY_OFFSET is ALSO the boundary
# "original vs derived" (decontaminate excludes benchmark ORIGINALS by
# it) — one constant, every user derives from it
_COPY_OFFSET = 1_000_000
_NEAR_OFFSET = 2_000_000


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    exact = (
        d.filter(F.col("doc_id") % 10 < 2)
        .select((F.col("doc_id") + _COPY_OFFSET).alias("doc_id"), "text")
    )
    near = (
        d.filter(F.col("doc_id") % 10 == 3)
        .select(
            (F.col("doc_id") + _NEAR_OFFSET).alias("doc_id"),
            F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
        )
    )
    return d.unionByName(exact).unionByName(near)


_CORPUS_SQL = rf"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_COPY_OFFSET} AS doc_id, text FROM documents
  WHERE doc_id % 10 < 2
  UNION ALL
  SELECT doc_id + {_NEAR_OFFSET} AS doc_id,
         regexp_replace(text, '^\S+\s+', '') AS text
  FROM documents WHERE doc_id % 10 = 3
"""


# ------------------------------------------------------------- exact dedup

# One fingerprint table per (Spark app, sf_dir): dedup_exact and the
# MinHash exact-dup pre-filter need the identical md5(text) pass, so the
# first caller materializes it (localCheckpoint) and the rest reuse it —
# the "materialize the fingerprint table once" shape a 100 TB pipeline
# uses, and the fix for the round-2 regression where both queries paid
# the full corpus-derivation + md5 scan separately (BENCH.md).
def _fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_memo(
        spark, ("fingerprints", sf_dir),
        lambda: _corpus(spark, sf_dir).select(
            "doc_id", F.md5("text").alias("fingerprint")
        ).localCheckpoint(eager=False),
    )


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _fingerprints(spark, sf_dir)
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


_DEDUP_EXACT_SQL = f"""
WITH corpus AS ({_CORPUS_SQL})
SELECT md5(text) AS fingerprint,
       count(*) AS n_copies,
       min(doc_id) AS keep_doc_id
FROM corpus GROUP BY md5(text) HAVING count(*) > 1
"""


# -------------------------------------------------------------- shingling

def _shingle_array() -> Column:
    """The ``text`` column's K-word shingles (space-split, empty tokens
    dropped, joined back with single spaces), in document order."""
    tokens = F.filter(F.split("text", " "), lambda t: t != "")
    # sequence(1, 0) yields a DESCENDING [1, 0] (step defaults to -1 when
    # start > stop), so slice(tokens, 0, K) would throw on docs with fewer
    # than K tokens — guard to an empty index array instead.
    idx = F.when(
        F.size(tokens) >= _SHINGLE_K,
        F.sequence(F.lit(1), F.size(tokens) - (_SHINGLE_K - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.array_join(F.slice(tokens, i, _SHINGLE_K), " ")
    )


def _shingles(c: DataFrame) -> DataFrame:
    """doc_id → distinct K-word shingles.

    The corpus is hash-repartitioned on doc_id first: that single
    raw-text exchange is reused by the shingle-distinct here AND by the
    per-doc signature agg downstream (doc_id is a subset of both keys,
    so Catalyst elides their exchanges — the old plan instead shuffled
    the exploded shingle set, ~3× the text bytes).  The explicit
    partition count keeps AQE from coalescing the hash-heavy map work
    onto a handful of tasks when the input file is small (tiny shuffle
    BYTES, large per-row CPU — the one case AQE sizes wrong).
    """
    n = int(c.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    c = c.repartition(n, "doc_id")
    return (
        c.select("doc_id", F.explode(_shingle_array()).alias("shingle"))
        .distinct()
    )


def _shingles_sql(src: str = "corpus") -> str:
    return f"""
  SELECT DISTINCT doc_id,
         array_to_string(tokens[i + 1 : i + {_SHINGLE_K}], ' ') AS shingle
  FROM (
    SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS tokens
    FROM {src}
  ), unnest(range(greatest(len(tokens) - {_SHINGLE_K - 1}, 0))) AS u(i)
"""


_SHINGLES_SQL = _shingles_sql("corpus")


# ----------------------------------------------------------- minhash + LSH

def band_rows(c: DataFrame) -> DataFrame:
    """(doc_id, band_no, band_hash) LSH band rows for a (doc_id, text)
    corpus — shingle → one 28-bit base hash → K universal-hash MinHash
    signatures → banded keys, all in one pass over the signature
    aggregate (a per-band union branch would recompute the agg once per
    band).  One md5 per shingle, not K: the K permutations are integer
    multiply-add-mod folds of the same base hash (see _MINHASH_A/B/P),
    and the band key is the plain "sig|sig" decimal join — no second
    hash pass.  Shared by the self-join dedup query and the incremental
    dedup store (job/dedup_store.py), so both produce identical band
    keys for identical text; changing the hash family re-keys any
    previously persisted store."""
    sh = _shingles(c)
    h = F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10).cast("bigint")
    sigs = sh.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(_MINHASH_A[k]) * F.col("h") + F.lit(_MINHASH_B[k]))
                % F.lit(_MINHASH_P)
            ).alias(f"sig{k}")
            for k in range(_N_MINHASH)
        ]
    )
    n_bands = _N_MINHASH // _BAND_ROWS
    band_structs = F.array(*[
        F.struct(
            F.lit(b).cast("int").alias("band_no"),
            F.concat_ws(
                "|",
                *[F.col(f"sig{b * _BAND_ROWS + r}")
                  for r in range(_BAND_ROWS)],
            ).alias("band_hash"),
        )
        for b in range(n_bands)
    ])
    return (
        sigs.select("doc_id", F.explode(band_structs).alias("bb"))
        .select("doc_id", "bb.band_no", "bb.band_hash")
    )


def _minhash_pairs(c: DataFrame, fp: DataFrame | None = None) -> DataFrame:
    """Candidate near-dup pairs for a (doc_id, text) corpus.

    Scale-critical pre-step: identical documents share EVERY band, so a
    group of k exact copies would emit O(k²) LSH pairs from every band
    bucket.  Exact duplicates are resolved first with a hash-agg (pair
    each copy with the group's min doc_id — O(k) rows), and only one
    representative per distinct text enters the LSH join.  Pair counts
    then grow with the number of *distinct* near-dup docs, not copies.

    ``fp`` lets the caller pass an already-materialized fingerprint
    table (the ``_fingerprints`` memo shared with dedup_exact) so one
    md5 scan serves both queries.
    """
    if fp is None:
        fp = c.select("doc_id", F.md5("text").alias("fingerprint"))
    # reps feeds three consumers (exact_pairs, rep_corpus semi-join, and
    # transitively the LSH side); checkpoint so the fingerprint agg runs
    # once — at scale you'd materialize this table (A/B-measured: the
    # checkpoint placement is worth ~25% on this query at sf0.1)
    reps = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("rep_id")
    ).localCheckpoint(eager=False)
    exact_pairs = (
        fp.join(reps, "fingerprint")
        .filter(F.col("doc_id") > F.col("rep_id"))
        .select(
            F.col("rep_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
        )
    )
    rep_corpus = c.join(
        reps.select(F.col("rep_id").alias("doc_id")), "doc_id", "semi"
    )
    # both sides of the LSH self-join read bands — checkpoint so the
    # signature aggregation runs once
    bands = band_rows(rep_corpus).localCheckpoint(eager=False)
    a = bands.alias("a")
    b_ = bands.alias("b")
    pairs = (
        a.join(
            b_,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # no final distinct: the two sides are disjoint by construction —
    # LSH pairs relate two REPRESENTATIVES (distinct texts), exact_pairs
    # always pair a rep with a NON-rep copy, and a doc is never both
    return exact_pairs.unionByName(pairs)


# Like _fingerprints: the candidate-pair table feeds BOTH
# dedup_minhash_lsh and dedup_clusters in one driver session —
# materialize it once (the "persist the pair table, then cluster it"
# shape of a production dedup run) instead of re-paying
# shingle/signature/band generation.
def _minhash_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_memo(
        spark, ("minhash_pairs", sf_dir),
        lambda: _minhash_pairs(
            _corpus(spark, sf_dir), _fingerprints(spark, sf_dir)
        ).localCheckpoint(eager=False),
    )


def _dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs_cached(spark, sf_dir)


def _minhash_sql() -> str:
    sig_cols = ",\n         ".join(
        f"min(({_MINHASH_A[k]} * h + {_MINHASH_B[k]}) % {_MINHASH_P}) "
        f"AS sig{k}"
        for k in range(_N_MINHASH)
    )
    n_bands = _N_MINHASH // _BAND_ROWS
    band_rows = []
    for b in range(n_bands):
        cols = " || '|' || ".join(
            f"sig{b * _BAND_ROWS + r}" for r in range(_BAND_ROWS)
        )
        band_rows.append(
            f"SELECT doc_id, {b} AS band_no, {cols} AS band_hash "
            "FROM sigs"
        )
    bands_sql = "\n  UNION ALL\n  ".join(band_rows)
    return f"""
WITH corpus AS ({_CORPUS_SQL}),
fp AS (SELECT doc_id, md5(text) AS fingerprint FROM corpus),
reps AS (SELECT fingerprint, min(doc_id) AS rep_id FROM fp GROUP BY fingerprint),
exact_pairs AS (
  SELECT r.rep_id AS doc_a, f.doc_id AS doc_b
  FROM fp f JOIN reps r ON f.fingerprint = r.fingerprint
  WHERE f.doc_id > r.rep_id
),
rep_corpus AS (
  SELECT c.doc_id, c.text FROM corpus c
  WHERE c.doc_id IN (SELECT rep_id FROM reps)
),
shingles AS ({_shingles_sql("rep_corpus")}),
sigs AS (
  SELECT doc_id,
         {sig_cols}
  FROM (
    SELECT doc_id,
           CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT) AS h
    FROM shingles
  ) GROUP BY doc_id
),
bands AS (
  {bands_sql}
)
SELECT doc_a, doc_b FROM exact_pairs
UNION ALL
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_no = b.band_no AND a.band_hash = b.band_hash
 AND a.doc_id < b.doc_id
"""


# --------------------------------------------------------- n-gram Jaccard

_JACCARD_THRESHOLD = 0.8
# Inverted-index safety valve: a shingle shared by d documents contributes
# O(d²) candidate pairs on one join key.  Boilerplate shingles (d in the
# millions at 100 TB) would otherwise put a 10¹²-row hot key on a single
# reducer.  Capping document frequency bounds per-key fan-out at _DF_CAP²
# and drops only stopword-ish shingles that carry no near-dup signal.
# Jaccard stays internally consistent because sizes AND intersections are
# both computed over the capped shingle set.
_MAX_SHINGLE_DF = 100


def _jaccard_pairs(c: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    # DF cap as a WINDOW over the shingle partitioning: one exchange
    # keyed on shingle replaces the old agg + semi-join (two passes over
    # the exploded set).  localCheckpoint preserves the window's hash
    # partitioning, so when the pair self-join below runs as a
    # sort-merge join (the at-scale choice; at bench sf Catalyst may
    # broadcast instead), both sides arrive already clustered on shingle
    # and the join re-exchanges nothing
    w = Window.partitionBy("shingle")
    sh = (
        _shingles(c)
        .withColumn("df", F.count(F.lit(1)).over(w))
        .filter(F.col("df") <= _MAX_SHINGLE_DF)
        .drop("df")
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_sh").alias("n_b"))
    j = (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            rhu(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
                .cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )
    return j


def _dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_pairs(_corpus(spark, sf_dir))


_JACCARD_SQL = f"""
WITH corpus AS ({_CORPUS_SQL}),
shingles_all AS ({_SHINGLES_SQL}),
shingles AS (
  SELECT doc_id, shingle FROM shingles_all
  WHERE shingle IN (
    SELECT shingle FROM shingles_all
    GROUP BY shingle HAVING count(*) <= {_MAX_SHINGLE_DF}
  )
),
sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       (floor((n_inter::DOUBLE
               / (sa.n_sh + sb.n_sh - n_inter)::DOUBLE) * 10000.0 + 0.5)
        / 10000.0) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE (floor((n_inter::DOUBLE
              / (sa.n_sh + sb.n_sh - n_inter)::DOUBLE) * 10000.0 + 0.5)
       / 10000.0)
      >= {_JACCARD_THRESHOLD}
"""


# ----------------------------------------------------------------- simhash

_SIMHASH_BITS = 32


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same one-exchange spread as _shingles: the token md5 + 32 sign
    # sums are map-side CPU that must not inherit a tiny file's split
    # count, and the groupBy(doc_id) reuses the partitioning for free
    c = _corpus(spark, sf_dir)
    n = int(c.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    c = c.repartition(n, "doc_id")
    tok = c.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("token"),
    )
    h = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("bigint")
    tok = tok.select("doc_id", h.alias("h"))
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"b{j}")
            for j in range(_SIMHASH_BITS)
        ]
    )
    simhash = None
    for j in range(_SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    out = bit_sums.select(
        "doc_id", simhash.cast("bigint").alias("simhash")
    )
    return out.select(
        "doc_id",
        "simhash",
        (F.col("simhash") % 256).cast("bigint").alias("band0"),
        (F.shiftright("simhash", 8) % 256).cast("bigint").alias("band1"),
        (F.shiftright("simhash", 16) % 256).cast("bigint").alias("band2"),
        (F.shiftright("simhash", 24) % 256).cast("bigint").alias("band3"),
    )


def _simhash_sql() -> str:
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(_SIMHASH_BITS)
    )
    simhash = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(_SIMHASH_BITS)
    )
    return f"""
WITH corpus AS ({_CORPUS_SQL}),
tok AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS h
  FROM (
    SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS tokens
    FROM corpus
  ), unnest(tokens) AS u(token)
),
bits AS (
  SELECT doc_id,
         {bit_sums}
  FROM tok GROUP BY doc_id
),
sh AS (
  SELECT doc_id, CAST({simhash} AS BIGINT) AS simhash FROM bits
)
SELECT doc_id, simhash,
       (simhash % 256)::BIGINT AS band0,
       ((simhash >> 8) % 256)::BIGINT AS band1,
       ((simhash >> 16) % 256)::BIGINT AS band2,
       ((simhash >> 24) % 256)::BIGINT AS band3
FROM sh
"""


# ------------------------------------------------- duplicate-cluster assembly

_CC_MAX_ITERS = 64

# rounds the most recent cc_labels call used (incl. the confirmation
# round) — observability for tests and BENCH.md, not part of the contract
last_cc_rounds = 0


def cc_labels(edges: DataFrame) -> DataFrame:
    """Connected components over an undirected edge list → (doc_id, label)
    with label = min doc_id reachable (the canonical representative).

    Pair emitters (LSH, Jaccard) produce EDGES; an actual dedup pass needs
    CLUSTERS — a doc near-dup to B which is near-dup to C must land in one
    group even when (A, C) itself never collides in a band.  This is the
    transitive-closure step every production dedup pipeline runs after
    candidate generation.

    Algorithm: min-label propagation with POINTER JUMPING — each round
    every node first takes the min of its own label and its neighbors'
    labels (one edge join + partial/final min-agg), then shortcuts
    through its own label (``l(u) ← min(l(u), l(l(u)))``, one keyed
    self-join of the label table).  A label is always the id of a node
    reachable from its owner (neighbor-min adds distance 1; the jump
    composes two reachable hops), labels are monotone non-increasing
    and bounded below by the component min, and at the fixpoint the
    neighbor-min condition forces equality across every edge — so the
    fixpoint is exactly label = min reachable id, the same contract as
    plain propagation, which the recursive-CTE oracle and the chain /
    star fixtures pin.  The jump is what makes the round count
    O(log diameter) instead of O(diameter): the distance a label has
    travelled roughly triples per round (neighbor hop + doubling), so an
    adversarial 1000-link near-dup chain (incremental-edit chains DO
    occur in real corpora) costs ~8 rounds, not 1000 sequential
    shuffles.  Star-shaped clusters (the common case) still converge in
    1 round + 1 confirmation.  The driver-side action per round reads
    ONE count (convergence check), never row data, and every round
    shuffles only the EDGE set (tiny vs the corpus — only docs that
    collided in a band appear).
    """
    fwd = edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    sym = fwd.unionByName(
        fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("u").alias("doc_id")).distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    global last_cc_rounds
    prev_ck = labels  # the checkpointed frame each round's labels derive from
    try:
        for rounds in range(1, _CC_MAX_ITERS + 1):
            neigh = (
                sym.join(labels, sym["v"] == labels["doc_id"])
                .groupBy("u")
                .agg(F.min("label").alias("nmin"))
            )
            half = (
                labels.join(neigh, labels["doc_id"] == neigh["u"], "left")
                .select(
                    labels["doc_id"],
                    labels["label"],
                    F.least(
                        labels["label"], F.coalesce("nmin", labels["label"])
                    ).alias("half_label"),
                )
            )
            # pointer jump: l(u) ← min(l(u), l(l(u))).  half_label is a
            # node id (some reachable node), so it has a row in half —
            # the left join + coalesce only covers the self-label case.
            jump = half.select(
                F.col("doc_id").alias("j_id"),
                F.col("half_label").alias("j_label"),
            )
            upd = (
                half.join(jump, half["half_label"] == jump["j_id"], "left")
                .select(
                    half["doc_id"],
                    half["label"],
                    F.least(
                        half["half_label"],
                        F.coalesce("j_label", half["half_label"]),
                    ).alias("new_label"),
                )
            )
            # checkpoint the JOINED frame, then derive both the new labels
            # and the convergence count from it — counting on the
            # un-checkpointed plan would re-run the round's joins+agg a
            # second time per round
            upd = upd.localCheckpoint(eager=True)
            n_changed = (
                upd.filter(F.col("new_label") != F.col("label")).count()
            )
            free_checkpoint(prev_ck)
            prev_ck = upd
            labels = upd.select("doc_id", F.col("new_label").alias("label"))
            if n_changed == 0:
                # sym is no longer needed once converged; the final round's
                # checkpoint (labels' parent) stays live for the caller
                last_cc_rounds = rounds
                free_checkpoint(sym)
                return labels
        raise RuntimeError(
            f"connected components did not converge in {_CC_MAX_ITERS} "
            "rounds"
        )
    except Exception:
        # error path (incl. the non-convergence guard): release the live
        # checkpoints instead of leaking them for the application lifetime
        free_checkpoint(sym)
        free_checkpoint(prev_ck)
        raise


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _minhash_pairs_cached(spark, sf_dir)
    lab = cc_labels(pairs).select(
        "doc_id", F.col("label").alias("cluster_id")
    )
    # cluster_size via map-side-combining groupBy + join back, NOT a
    # window over the cluster partitioning: a mega-cluster (a page
    # mirrored millions of times collapses to ONE cluster) would pile
    # every member onto a single window task, while the count agg
    # partial-aggregates on the mappers and the join back is an
    # AQE-splittable keyed join (plan-gated: no Window)
    sizes = lab.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return lab.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keep"),
    )


def _clusters_sql() -> str:
    # the oracle computes min-reachable-id independently: enumerate every
    # (node, reachable seed) pair with a recursive CTE, then min — a
    # different algorithm from the engine's label propagation, so a
    # propagation bug cannot self-certify
    return f"""
WITH RECURSIVE pairs AS (
  SELECT * FROM ({_minhash_sql()}) q
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
reach(doc_id, root) AS (
  SELECT doc_id, doc_id AS root FROM nodes
  UNION
  SELECT e.v AS doc_id, r.root
  FROM reach r JOIN edges e ON e.u = r.doc_id
),
lab AS (
  SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id
)
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         AS cluster_size,
       doc_id = cluster_id AS is_keep
FROM lab
"""


def _dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end of the dedup story: the corpus with every non-canonical
    cluster member REMOVED (exactly one survivor — the min doc_id — per
    duplicate cluster; untouched docs pass through).

    Scale shape: the drop list is the duplicate subset (≪ corpus) keyed
    on doc_id, so the removal is one keyed LEFT ANTI join against the
    corpus — no second pass over text, no sort.  Output carries
    md5(text) rather than text so the hash gate compares slim rows."""
    c = _corpus(spark, sf_dir)
    drop = (
        _dedup_clusters(spark, sf_dir)
        .filter(~F.col("is_keep"))
        .select("doc_id")
    )
    return c.join(drop, "doc_id", "left_anti").select(
        "doc_id", F.md5("text").alias("text_md5")
    )


def _dedup_apply_sql() -> str:
    return f"""
WITH clusters AS (
  SELECT * FROM ({_clusters_sql()}) q
),
corpus AS ({_CORPUS_SQL})
SELECT c.doc_id, md5(c.text) AS text_md5
FROM corpus c
WHERE c.doc_id NOT IN (SELECT doc_id FROM clusters WHERE NOT is_keep)
"""


# ------------------------------------------------- benchmark decontamination

# Benchmark membership: every ~97th ORIGINAL document plays the held-out
# eval set.  Contamination = a training doc sharing >= _DECON_MIN_HITS
# distinct K-word shingles with ANY benchmark doc.  The training side is
# the derived dup-bearing corpus minus the benchmark rows themselves —
# exact/near copies of benchmark docs (ids shifted by 1M/2M) stay in and
# are precisely the leakage this op must catch.
_DECON_BENCH_MOD = 97
_DECON_MIN_HITS = 2


def _decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % _DECON_BENCH_MOD == 0)
    bench_grams = _shingles(bench).select("shingle").distinct()
    train = _corpus(spark, sf_dir).filter(
        ~(
            (F.col("doc_id") < _COPY_OFFSET)
            & (F.col("doc_id") % _DECON_BENCH_MOD == 0)
        )
    )
    # the benchmark set is small BY DEFINITION (eval suites are KBs-MBs
    # while the corpus is TBs) — broadcast it so the contamination scan
    # is a map-side semi-join over the corpus shingles, no corpus shuffle
    # before the per-doc partial count-agg
    return (
        _shingles(train)
        .join(F.broadcast(bench_grams), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= _DECON_MIN_HITS)
    )


_DECON_SQL = f"""
WITH corpus AS ({_CORPUS_SQL}),
bench AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {_DECON_BENCH_MOD} = 0
),
bench_grams AS (
  SELECT DISTINCT shingle FROM ({_shingles_sql("bench")}) b
),
train AS (
  SELECT doc_id, text FROM corpus
  WHERE NOT (doc_id < {_COPY_OFFSET} AND doc_id % {_DECON_BENCH_MOD} = 0)
),
train_shingles AS ({_shingles_sql("train")})
SELECT doc_id, count(*) AS n_hits
FROM train_shingles
WHERE shingle IN (SELECT shingle FROM bench_grams)
GROUP BY doc_id
HAVING count(*) >= {_DECON_MIN_HITS}
"""


# ------------------------------------------- duplicated-passage profiling

def _dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-passage profile: what fraction of each
    doc's K-word passages also appear in ANOTHER document — the
    corpus-level measurement behind exact-substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"), at
    shingle granularity.  Pair-based dedup (MinHash/Jaccard) finds
    mostly-duplicate DOCUMENTS; this finds the copied SPANS inside
    otherwise-unique documents (boilerplate paragraphs, quoted passages,
    license blocks) that doc-level dedup can never remove.

    Scale shape: shingle document-frequency is a map-side-combining
    count over the (doc, shingle)-distinct set (one shuffle keyed on the
    shingle); the duplicated subset (df ≥ 2) — small in a mostly-unique
    corpus — comes back via a keyed semi-join; both per-doc counts are
    partial aggs on doc_id.  No pair join at all: cost is O(shingles),
    not O(candidate pairs), which is why production runs this profile
    over the FULL corpus even when pairwise dedup is sampled."""
    sh = _shingles(_corpus(spark, sf_dir)).localCheckpoint(eager=False)
    dup = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .select("shingle")
    )
    totals = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    dups = (
        sh.join(dup, "shingle", "semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup"))
    )
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0)).cast("bigint")
    return totals.join(dups, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        n_dup.alias("n_dup"),
        rhu(n_dup.cast("double") / F.col("n_shingles"), 4)
            .alias("dup_fraction"),
    )


_DUP_PASSAGES_SQL = f"""
WITH corpus AS ({_CORPUS_SQL}),
sh AS ({_SHINGLES_SQL}),
dup AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 2
),
tot AS (
  SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
),
d AS (
  SELECT s.doc_id, count(*) AS n_dup
  FROM sh s JOIN dup USING (shingle)
  GROUP BY s.doc_id
)
SELECT t.doc_id,
       CAST(t.n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup,
       {rhu_sql("CAST(coalesce(d.n_dup, 0) AS DOUBLE) / t.n_shingles", 4)}
         AS dup_fraction
FROM tot t LEFT JOIN d ON d.doc_id = t.doc_id
"""


# -------------------------------------------- cross-source overlap matrix

def _source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source duplication matrix: for every pair of sources, the
    number of distinct K-word shingles they share, plus a containment
    score (shared / min(|A|, |B|)) — the measurement a data-mixture
    design needs before weighting sources (double-counted content
    inflates a source's effective weight).

    Scale shape: ONE exchange on shingle folds the corpus to a per-
    shingle sorted source set (collect_set partially aggregates map-
    side, and set size is bounded by the number of sources — dozens,
    not documents — so no group can blow up no matter how common the
    shingle).  Pairs are generated JVM-side from each sorted set
    (≤ C(n_sources, 2) per shingle) and count-aggregated; per-source
    distinct-shingle totals come from the same folded table and join
    back as a broadcast.  The naive alternative — self-joining the
    distinct (source, shingle) table on shingle — re-shuffles the full
    shingle set a second time and materializes every candidate row; the
    oracle does exactly that, in DuckDB, as the independent algorithm.
    """
    d = load(spark, sf_dir, "documents").select("source", "text")
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # round-robin: 'source' has ~dozens of values, so hashing on it would
    # collapse the hash-heavy shingle map work into n_sources tasks
    d = d.repartition(n)
    # Both consumers below branch off the SAME folded table; Spark's
    # ReusedExchange serves the second branch from the first's shuffle
    # files, so the expensive shingle map side runs once — no pinned
    # localCheckpoint blocks needed (ADVICE r3: cache lifetime).
    per_shingle = (
        d.select("source", F.explode(_shingle_array()).alias("shingle"))
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
    )
    counts = (
        per_shingle.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = per_shingle.select(
        F.explode(
            F.flatten(
                F.transform(
                    "srcs",
                    lambda a, i: F.transform(
                        F.slice(F.col("srcs"), i + 2, F.size("srcs")),
                        lambda b: F.struct(
                            a.alias("source_a"), b.alias("source_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.source_a", "p.source_b")
    shared = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    ca = F.broadcast(counts.withColumnRenamed("source", "source_a")
                     .withColumnRenamed("n", "n_a"))
    cb = F.broadcast(counts.withColumnRenamed("source", "source_b")
                     .withColumnRenamed("n", "n_b"))
    return (
        shared.join(ca, "source_a").join(cb, "source_b")
        .select(
            "source_a", "source_b", "n_shared", "n_a", "n_b",
            (F.col("n_shared").cast("double")
             / F.least("n_a", "n_b")).alias("containment"),
        )
    )


_SOURCE_OVERLAP_SQL = f"""
WITH sh AS (
  SELECT DISTINCT source,
         array_to_string(tokens[i + 1 : i + {_SHINGLE_K}], ' ') AS shingle
  FROM (
    SELECT source,
           list_filter(string_split(text, ' '), x -> x <> '') AS tokens
    FROM documents
  ), unnest(range(greatest(len(tokens) - {_SHINGLE_K - 1}, 0))) AS u(i)
),
cnt AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source
),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM sh a JOIN sh b
    ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s.source_a, s.source_b, s.n_shared, ca.n AS n_a, cb.n AS n_b,
       CAST(s.n_shared AS DOUBLE) / least(ca.n, cb.n) AS containment
FROM shared s
JOIN cnt ca ON ca.source = s.source_a
JOIN cnt cb ON cb.source = s.source_b
"""


QUERIES: list[Q] = [
    Q("dedup_exact", _dedup_exact, _DEDUP_EXACT_SQL,
      "exact dedup via md5 hash-groupBy"),
    Q("dedup_minhash_lsh", _dedup_minhash_lsh, _minhash_sql(),
      "MinHash signatures + banded LSH candidate pairs"),
    Q("dedup_ngram_jaccard", _dedup_ngram_jaccard, _JACCARD_SQL,
      "inverted-index n-gram Jaccard near-dup pairs"),
    Q("dedup_simhash", _dedup_simhash, _simhash_sql(),
      "32-bit SimHash with band keys"),
    Q("dedup_clusters", _dedup_clusters, _clusters_sql,
      "duplicate-cluster assembly: connected components (iterative "
      "min-label propagation to the unique fixpoint) over the MinHash/"
      "exact candidate pairs; oracle recomputes via an independent "
      "recursive-CTE reachability closure"),
    Q("decontaminate", _decontaminate, _DECON_SQL,
      "benchmark decontamination: distinct-shingle overlap of the "
      "training corpus vs a broadcast held-out benchmark gram set"),
    Q("dedup_apply", _dedup_apply, _dedup_apply_sql,
      "applied dedup: corpus anti-joined against the non-canonical "
      "cluster members — one survivor per duplicate cluster"),
    Q("dup_passages", _dup_passages, _DUP_PASSAGES_SQL,
      "per-doc duplicated-passage profile: fraction of K-word passages "
      "shared with another document (shingle-DF ≥ 2), the exact-"
      "substring-dedup measurement — O(shingles), no pair join"),
    Q("source_overlap", _source_overlap, _SOURCE_OVERLAP_SQL,
      "inter-source duplication matrix: distinct shared shingles + "
      "containment per source pair — one shingle exchange to bounded "
      "per-shingle source sets, JVM pair generation, broadcast totals; "
      "oracle self-joins the distinct (source, shingle) table"),
]
