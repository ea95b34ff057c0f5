"""LLM-data-pipeline extension queries (SURVEY.md §2.C): dedup,
similarity search, text analysis, multimodal — each oracle-checked
against DuckDB replaying the identical (portable) arithmetic.

Near-dup corpora: the fixture documents are random synthetic text with
no real duplicates, so dedup queries run over CORPUS — documents plus
deterministic planted variants (drop-first-word copies for near-dup,
verbatim copies for exact dup), built identically in both engines.

The MinHash/SimHash oracle SQL is generated from the same constants as
the Spark operators (NUM_PERM, band layout, Mersenne-31 hashing), so a
drift in either side fails the hash check.

The queries served from a persisted index (IVF, PQ, SQ, IVF-SQ, IVF-PQ,
band, pHash) are rows of one scenario table at the end of the module
(`_SCENARIOS`): each row's build spec keys the process-wide index cache
and the probe's metadata pin, and one loop registers every row with the
oracle its layout's replay generator derives from the same fields.
"""

from __future__ import annotations

from functools import partial
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as T
from ..schema import load_table, local_rel
from . import storage as ST
from .queries import query

# ---------------------------------------------------------------------------
# shared corpora (Spark + identical SQL)
# ---------------------------------------------------------------------------

CORPUS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id,
       substring(text, instr(text, ' ') + 1) AS text
FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id + 2000000 AS doc_id, text
FROM documents WHERE doc_id % 20 = 0
"""


# the corpus family's scan spreader lives in schema.spread_small_scan
# (the events family needs the identical conditional repartition);
# this alias keeps the plan-module call sites stable
from ..schema import spread_small_scan as _spread_small_scan  # noqa: E402


def corpus(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    near = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    exact = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), F.col("text")
    )
    out = d.unionByName(near).unionByName(exact)
    # callers that immediately FILTER the corpus pass spread=False and
    # spread the filtered legs themselves (pushdown, see helper above)
    return _spread_small_scan(spark, sf_dir, out) if spread else out


_H31 = (
    "CAST(concat('0x', substring(md5({x}), 1, 15)) AS BIGINT) % 2147483647"
)

_SHINGLES_SQL = f"""
corpus AS ({CORPUS_SQL}),
sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               UNNEST(list_transform(generate_series(1, len(w) - 2),
                      i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus) t
        WHERE len(w) >= 3
    ) u
)
"""

# ---------------------------------------------------------------------------
# dedup: exact
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL})
    SELECT sha256(text) AS text_sha, MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM corpus GROUP BY sha256(text) HAVING COUNT(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups (the planted verbatim copies): deterministic
    representative = min doc_id. One hash-aggregate shuffle whose key is
    sha2-256 of the text — 64 fixed bytes, so at 100 TB the exchange
    carries hashes, never the corpus. DuckDB's sha256() emits the same
    lowercase hex, so the oracle replays the key verbatim."""
    c = corpus(spark, sf_dir)
    return (
        c.groupBy(F.sha2(F.col("text"), 256).alias("text_sha"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


@query(
    "dedup_exact_normalized",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL}),
    norm AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                    ' +', ' ', 'g')) AS ntext
        FROM corpus
    )
    SELECT COUNT(*) AS n_docs, COUNT(DISTINCT sha256(ntext)) AS n_unique
    FROM norm
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup (lower/strip-punct/collapse-ws): corpus
    size vs distinct canonical forms. The distinct runs on sha2 of the
    canonical text so the shuffle key is fixed-width at any scale."""
    c = corpus(spark, sf_dir)
    n = c.select(F.sha2(D.normalize_text("text"), 256).alias("nsha"))
    return n.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("nsha").alias("n_unique"),
    )


# ---------------------------------------------------------------------------
# dedup: n-gram Jaccard (inverted index)
# ---------------------------------------------------------------------------

@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    sh31 AS (SELECT DISTINCT doc_id, {_H31.format(x='shingle')} AS h FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh31 GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM sh31 a JOIN sh31 b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(shared * 1.0 / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
    FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    WHERE ROUND(shared * 1.0 / (sa.n_sh + sb.n_sh - shared), 6) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingle Jaccard ≥ 0.5 via the inverted-index join (only
    pairs sharing a shingle are scored — never all-pairs). The index
    key is hash31(shingle): fixed 8-byte shuffle keys at any scale,
    replayed identically by the oracle."""
    sh = D.word_shingles(corpus(spark, sf_dir))
    return D.jaccard_pairs(sh, threshold=0.5)


# ---------------------------------------------------------------------------
# dedup: MinHash + LSH (generated oracle mirrors operators/dedup.py)
# ---------------------------------------------------------------------------

def _minhash_oracle() -> str:
    h = _H31.format(x="shingle")
    mins = ",\n           ".join(
        f"MIN(({2 * i + 1} * h + {i * 7919 + 1}) % 2147483647) AS mh{i}"
        for i in range(D.NUM_PERM)
    )
    band_keys = []
    for j in range(D.BANDS):
        cols = [f"mh{j * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND)]
        key = "concat_ws('_', " + ", ".join(f"CAST({c} AS STRING)" for c in cols) + ")"
        band_keys.append(
            f"SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM "
            f"(SELECT doc_id, {key} AS bk FROM mh) a JOIN "
            f"(SELECT doc_id, {key} AS bk FROM mh) b "
            f"ON a.bk = b.bk AND a.doc_id < b.doc_id"
        )
    cands = "\n        UNION\n        ".join(band_keys)
    return f"""
    WITH {_SHINGLES_SQL},
    h AS (SELECT doc_id, {h} AS h FROM sh),
    mh AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
    cands AS (
        {cands}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        WHERE (a.doc_id, b.doc_id) IN (SELECT (id_a, id_b) FROM cands)
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(shared * 1.0 / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
    FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    WHERE ROUND(shared * 1.0 / (sa.n_sh + sb.n_sh - shared), 6) >= 0.5
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle(), bench=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms) → LSH(4 bands × 4 rows) → candidate pairs →
    exact-Jaccard verify ≥ 0.5. The scale path for near-dup dedup:
    signatures are one aggregation; candidates are 4 equi-joins on
    band keys; verification touches only candidates."""
    return D.minhash_lsh_dedup_pairs(corpus(spark, sf_dir), threshold=0.5)


# Exact connected components over a `pairs` CTE, as SQL: undirected
# edges -> transitive label closure via a RECURSIVE CTE (UNION dedup
# gives the fixpoint) -> min reachable label per node. This replays
# cluster_pairs' single-task union-find EXACTLY — unlike a fixed
# k-round propagation replay, which an sf0.1 soak caught
# diverging on a >2k-hop-diameter embedding component. Closure size
# is O(sum of component sizes squared) — bounded by near-dup family
# sizes, never corpus-wide.
_EXACT_CC_SQL = """
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    r(id, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN r ON r.id = e.dst
    ),
    conn AS (SELECT id, MIN(lbl) AS lbl FROM r GROUP BY id)
"""

_CLUSTER_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    {_EXACT_CC_SQL}
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM (
        SELECT lbl, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM conn GROUP BY lbl
    ) s
    GROUP BY cluster_size
    ORDER BY cluster_size
    """


@query("dedup_cluster_sizes", oracle=_CLUSTER_ORACLE, bench=True)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> clusters (2-step min-label propagation,
    operators/dedup.cluster_pairs) -> cluster-size histogram. The
    keep-one-per-cluster decision is `id == cluster_id`; this query
    verifies the clustering against an EXACT connected-components
    replay (recursive-CTE transitive closure → min reachable label),
    the same fixpoint the single-task union-find computes — a fixed
    2-round replay diverged on a deep component at sf0.1."""
    pairs = D.minhash_lsh_dedup_pairs(corpus(spark, sf_dir), threshold=0.5)
    labels = D.cluster_pairs(pairs, iterations=2)
    out = (
        labels.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )
    # labels' edge checkpoint must outlive this composed plan's action
    return D.pin(out, labels)


@query("dedup_cluster_sizes_bigstar", oracle=_CLUSTER_ORACLE)
def dedup_cluster_sizes_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same near-dup cluster-size histogram computed through the
    O(log n)-round scale path: alternating large-star/small-star
    contraction (operators/dedup.cluster_pairs_bigstar, Kiveris et
    al. 2014) instead of O(diameter)-round min-label propagation —
    the component algorithm you want when near-dup chains run deep
    (drifting boilerplate at crawl scale). Identical labels, so the
    identical recursive-CTE oracle verifies it; sharing the oracle
    with `dedup_cluster_sizes` is the differential proof that the
    two physical strategies agree through the driver gate."""
    pairs = D.minhash_lsh_dedup_pairs(corpus(spark, sf_dir), threshold=0.5)
    labels = D.cluster_pairs_bigstar(pairs)
    out = (
        labels.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )
    # the star-forest checkpoints must outlive this composed plan
    return D.pin(out, labels)


def _stream_neardup_oracle() -> str:
    h = _H31.format(x="shingle")
    mins = ",\n           ".join(
        f"MIN(({2 * i + 1} * h + {i * 7919 + 1}) % 2147483647) AS mh{i}"
        for i in range(D.NUM_PERM)
    )
    band_selects = []
    for j in range(D.BANDS):
        cols = [f"mh{j * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND)]
        key = "concat_ws('_', " + ", ".join(
            f"CAST({c} AS STRING)" for c in cols
        ) + ")"
        band_selects.append(
            f"SELECT CAST({j} AS BIGINT) AS band_no,"
            f" a.doc_id AS id_a, b.doc_id AS id_b FROM "
            f"(SELECT doc_id, {key} AS bk FROM mh) a JOIN "
            f"(SELECT doc_id, {key} AS bk FROM mh) b "
            f"ON a.bk = b.bk AND a.doc_id < b.doc_id"
        )
    cands = "\n        UNION ALL\n        ".join(band_selects)
    return f"""
    WITH {_SHINGLES_SQL},
    h AS (SELECT doc_id, {h} AS h FROM sh),
    mh AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
    cands AS (
        {cands}
    )
    SELECT band_no,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM((id_a + id_b) % 99991) AS BIGINT) AS pair_checksum
    FROM cands
    GROUP BY band_no
    ORDER BY band_no
    """


@query("events_stream_neardup", oracle=_stream_neardup_oracle())
def events_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time near-dup candidates — the registered face of
    streaming/neardup.py (the "events" prefix
    names the arrival-stream semantics: the corpus replayed as a
    document-arrival stream). The Spark side runs
    streaming_candidate_pairs(streaming=False), the BATCH TWIN that
    shares every stateless expression with the incremental
    applyInPandasWithState path — same shingles, same hash31
    permutations, same band keys — so the oracle that proves this
    query also pins the stream's output contract; stream/batch
    equality across micro-batch splits is asserted separately in
    tests/test_stream_neardup.py. Output: per-band candidate-pair
    count + membership checksum (band_no kept so the differential
    test checks WHICH band found each pair, not just the union)."""
    from ..streaming.neardup import streaming_candidate_pairs

    pairs = streaming_candidate_pairs(
        corpus(spark, sf_dir), streaming=False
    )
    return (
        pairs.groupBy("band_no")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum((F.col("id_a") + F.col("id_b")) % 99991)
            .alias("pair_checksum"),
        )
        .orderBy("band_no")
    )


# ---------------------------------------------------------------------------
# dedup: SimHash
# ---------------------------------------------------------------------------

def _simhash_oracle() -> str:
    h = _H31.format(x="word")
    sums = ",\n           ".join(
        f"SUM(CASE WHEN h % {2 << b} >= {1 << b} THEN 1 ELSE -1 END) AS s{b}"
        for b in range(D.SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END"
        for b in range(D.SIMHASH_BITS)
    )
    nib_joins = []
    for j in range(4):
        lo, hi = 16 ** j, 16 ** (j + 1)
        nib = f"(simhash % {hi}) - (simhash % {lo})"
        nib_joins.append(
            f"SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM "
            f"(SELECT doc_id, {nib} AS nib FROM sig) a JOIN "
            f"(SELECT doc_id, {nib} AS nib FROM sig) b "
            f"ON a.nib = b.nib AND a.doc_id < b.doc_id"
        )
    cands = "\n        UNION\n        ".join(nib_joins)
    ham = " + ".join(
        f"abs(CASE WHEN sa.simhash % {2 << b} >= {1 << b} THEN 1 ELSE 0 END - "
        f"CASE WHEN sb.simhash % {2 << b} >= {1 << b} THEN 1 ELSE 0 END)"
        for b in range(D.SIMHASH_BITS)
    )
    return f"""
    WITH corpus AS ({CORPUS_SQL}),
    w AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM corpus
    ),
    hh AS (SELECT doc_id, {h} AS h FROM w),
    sums AS (SELECT doc_id, {sums} FROM hh GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM sums),
    cands AS (
        {cands}
    ),
    verified AS (
        SELECT c.id_a, c.id_b, ({ham}) AS hamming
        FROM cands c
          JOIN sig sa ON sa.doc_id = c.id_a
          JOIN sig sb ON sb.doc_id = c.id_b
    )
    SELECT hamming, COUNT(*) AS n_pairs
    FROM verified WHERE hamming <= 3 GROUP BY hamming
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash near-dup: nibble-band candidates (pigeonhole for
    Hamming ≤ 3), exact Hamming verify; reported as a pair-count
    histogram by distance (pair lists over a 31-word vocabulary are
    huge and uninformative)."""
    sigs = D.simhash(corpus(spark, sf_dir))
    pairs = D.simhash_near_pairs(sigs, max_hamming=3)
    return pairs.groupBy("hamming").agg(F.count("*").alias("n_pairs"))


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

@query(
    "similarity_topk_bruteforce",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_dot_product(v, qv) /
                 (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
                 6) AS cos_sim
    FROM e, q
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
    bench=True,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: broadcast query vector, score all rows
    (zip_with/aggregate — JVM codegen), TakeOrdered(10)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    return S.topk_bruteforce(e, q, k=10)


def _signrp_oracle() -> str:
    proj = S.projection_matrix()
    arrays = [
        "[" + ", ".join(f"{x}.0" for x in row) + "]" for row in proj
    ]
    bucket = " + ".join(
        f"CASE WHEN list_dot_product(v, {arr}) >= 0 THEN {1 << j} ELSE 0 END"
        for j, arr in enumerate(arrays)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v, CAST({bucket} AS BIGINT) AS bucket FROM e),
    q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_dot_product(v, qv) /
                 (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
                 6) AS cos_sim
    FROM b, q WHERE bucket = qb
    ORDER BY cos_sim DESC, vec_id
    LIMIT 5
    """


_IVF_ORACLE = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cvec FROM e ORDER BY vec_id LIMIT 8),
    scored AS (
        SELECT e.vec_id, e.v, c.cid,
               list_dot_product(e.v, c.cvec) /
               (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS score
        FROM e CROSS JOIN cents c),
    assign AS (
        SELECT vec_id, v, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY score DESC, cid) AS rn
            FROM scored) t
        WHERE rn = 1),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    qcells AS (
        SELECT c.cid FROM cents c, q
        ORDER BY list_dot_product(qv, c.cvec) /
                 (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.cvec, c.cvec)))
                 DESC, c.cid
        LIMIT 2)
    SELECT a.vec_id,
           ROUND(list_dot_product(a.v, qv) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qv, qv))),
                 6) AS cos_sim
    FROM assign a, q
    WHERE a.cid IN (SELECT cid FROM qcells)
    ORDER BY cos_sim DESC, a.vec_id
    LIMIT 5
    """


@query("similarity_ivf_ann", oracle=_IVF_ORACLE)
def similarity_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic seed centroids -> argmax-cosine cell
    assignment (broadcast, no shuffle) -> probe the 2 cells nearest the
    query -> exact cosine within probed cells. The at-scale layout
    writes the assigned table partitioned by cell, so each probe is a
    partition-pruned scan; the oracle replays the identical index in
    SQL (both engines accumulate dot products in index order)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    return S.ivf_topk(e, q, k=5, nprobe=2, n_cells=8)


@query("similarity_lsh_ann", oracle=_signrp_oracle())
def similarity_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH ANN: deterministic integer projection
    matrix → 6 sign bits → bucket; exact cosine only within the query's
    bucket. At scale: partition embeddings by bucket → partition-pruned
    scan (~1/64 of data per probe)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    return S.signrp_lsh_topk(e, q, k=5)


@query(
    "similarity_batch_topk",
    bench=True,
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
    scored AS (
        SELECT q.qid, e.vec_id,
               ROUND(list_dot_product(e.v, q.qv) /
                     (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
        FROM e CROSS JOIN q
    ),
    ranked AS (
        SELECT qid, vec_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, vec_id) AS rank
        FROM scored
    )
    SELECT qid, vec_id, cos_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    ORDER BY qid, rank
    """,
)
def similarity_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 per query for a 3-query batch
    (operators/similarity.batch_topk): ONE corpus pass serves the whole
    batch — the retrieval-serving shape, vs topk_bruteforce's single
    query. The per-query `row_number <= k` plans as WindowGroupLimit
    (per-partition heap BEFORE the exchange, asserted in
    tests/test_plans.py), so the shuffle carries at most Q x k rows
    per partition at any corpus size."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return S.batch_topk(e, q, k=5).orderBy("qid", "rank")


def _ann_recall_oracle() -> str:
    bf5 = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id FROM (
        SELECT vec_id,
               list_dot_product(v, qv) /
               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS s
        FROM e, q ORDER BY s DESC, vec_id LIMIT 5)
    """
    return f"""
    SELECT method, k, hits, ROUND(hits * 1.0 / k, 6) AS recall FROM (
        SELECT 'ivf' AS method, CAST(5 AS BIGINT) AS k,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ({_IVF_ORACLE}) s
                WHERE s.vec_id IN (SELECT vec_id FROM ({bf5}) b)) AS hits
        UNION ALL
        SELECT 'lsh', CAST(5 AS BIGINT),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ({_signrp_oracle()}) s
                WHERE s.vec_id IN (SELECT vec_id FROM ({bf5}) b))
    ) t ORDER BY method
    """


def _recall_result(
    approx: DataFrame, exact: DataFrame, method: str, k: int
) -> DataFrame:
    """THE (method, k, hits, recall) output contract every recall@k
    query shares (one statement, so a change to the contract cannot
    silently diverge between sites): |approx ∩ exact| via a broadcast semi-join on vec_id
    (both sides are k-sized), recall = hits/k rounded to 6."""
    hits = (
        approx.select("vec_id")
        .join(F.broadcast(exact.select("vec_id")), "vec_id", "left_semi")
        .agg(F.count("*").alias("hits"))  # bcast bound: k rows
    )
    return hits.select(
        F.lit(method).alias("method"),
        F.lit(k).cast("long").alias("k"),
        F.col("hits"),
        F.round(F.col("hits") / F.lit(float(k)), 6).alias("recall"),
    )


def _recall_result_batch(
    approx: DataFrame, exact: DataFrame, method: str, total: int
) -> DataFrame:
    """_recall_result's batch twin: |approx ∩ exact| keyed by
    (qid, vec_id) — both sides are Q x k-sized, so the intersection is
    still a broadcast semi-join — recall = hits/total rounded to 6.
    Output (method, n, hits, recall)."""
    hits = (
        approx.select("qid", "vec_id")
        .join(
            F.broadcast(exact.select("qid", "vec_id")),
            ["qid", "vec_id"],
            "left_semi",
        )
        .agg(F.count("*").alias("hits"))  # bcast bound: Q x k rows
    )
    return hits.select(
        F.lit(method).alias("method"),
        F.lit(total).cast("long").alias("n"),
        F.col("hits"),
        F.round(F.col("hits") / F.lit(float(total)), 6).alias("recall"),
    )


@query("similarity_ann_recall", oracle=_ann_recall_oracle())
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@5 of each approximate index (sign-
    RP LSH bucket probe, IVF 2-cell probe) against the exact brute-force
    top-5 — the metric that decides bucket/probe tuning before an index
    ships. All three result sets are k-sized, so the intersection joins
    are trivially broadcast; the corpus is scanned once per index, same
    as serving it. The oracle replays both index constructions and the
    exact baseline in SQL."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    bf = S.topk_bruteforce(e, q, k=5).select("vec_id")
    ivf = S.ivf_topk(e, q, k=5, nprobe=2, n_cells=8)
    lsh = S.signrp_lsh_topk(e, q, k=5)
    return (
        _recall_result(ivf, bf, "ivf", k=5)
        .unionByName(_recall_result(lsh, bf, "lsh", k=5))
        .orderBy("method")
    )


@query(
    "embedding_neardup_pairs",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 6) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          >= 0.35
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup with label blocking (the O(n²)→
    O(sum block²) reduction; embedding_neardup_lsh is the same operator
    with the 100 TB block key — an LSH bucket instead of a label)."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.neardup_pairs_blocked(e, threshold=0.35)


def _neardup_lsh_oracle() -> str:
    proj = S.projection_matrix()
    arrays = ["[" + ", ".join(f"{x}.0" for x in row) + "]" for row in proj]
    bucket = " + ".join(
        f"CASE WHEN list_dot_product(v, {arr}) >= 0 THEN {1 << j} ELSE 0 END"
        for j, arr in enumerate(arrays)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v, CAST({bucket} AS BIGINT) AS bucket FROM e)
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           ROUND(list_dot_product(a.v, c.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))),
                 6) AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE list_dot_product(a.v, c.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v)))
          >= 0.35
    """


@query("embedding_neardup_lsh", oracle=_neardup_lsh_oracle())
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup blocked on the sign-RP LSH bucket — the true
    100 TB composition: the block key is data-derived
    (signrp_bucket, ~2^BITS balanced cells), so within-block all-pairs
    cost is bounded by bucket size, not by a label's corpus share. The
    oracle replays the identical integer projection in DuckDB. Recall
    is LSH-limited by design: only same-bucket pairs are compared."""
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", S.signrp_bucket("embedding")
    )
    return S.neardup_pairs_blocked(e, block_col="bucket", threshold=0.35)


def _knn_graph_oracle() -> str:
    proj = S.projection_matrix()
    arrays = ["[" + ", ".join(f"{x}.0" for x in row) + "]" for row in proj]
    bucket = " + ".join(
        f"CASE WHEN list_dot_product(v, {arr}) >= 0 THEN {1 << j} ELSE 0 END"
        for j, arr in enumerate(arrays)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v, CAST({bucket} AS BIGINT) AS bucket FROM e),
    p AS (
        SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
               ROUND(list_dot_product(a.v, c.v) /
                     (sqrt(list_dot_product(a.v, a.v)) *
                      sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
    ),
    r AS (
        SELECT vec_id, neighbor_id, cos_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY vec_id
                   ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM p
    )
    SELECT vec_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 3
    """


@query("embedding_knn_graph", oracle=_knn_graph_oracle(), bench=True)
def embedding_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-corpus kNN graph (every vector's top-3 same-bucket
    neighbors by exact cosine) — the substrate semantic dedup and
    retrieval eval build on. Blocked on the deterministic sign-RP LSH
    bucket so the oracle replays the identical blocking; the rank
    filter plans as WindowGroupLimit (pinned in tests/test_plans.py),
    bounding the post-join exchange at k rows per vector."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.knn_graph_blocked(e, k=3)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

@query(
    "text_quality_stats",
    oracle="""
    WITH q AS (
        SELECT source,
               len(string_split(text, ' ')) AS n_words,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               len(list_filter(string_split(text, ' '),
                   x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop,
               length(replace(text, ' ', '')) AS n_alpha
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_words), 4) AS avg_words,
           ROUND(AVG(n_distinct * 1.0 / n_words), 4) AS avg_distinct_ratio,
           ROUND(AVG(n_stop * 1.0 / n_words), 4) AS avg_stopword_ratio,
           ROUND(AVG(n_alpha * 1.0 / n_words), 4) AS avg_word_len
    FROM q GROUP BY source
    """,
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score aggregates per source (length, lexical diversity,
    stopword density — the standard pre-training quality filters)."""
    d = T.quality_features(load_table(spark, sf_dir, "documents"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_words"), 4).alias("avg_words"),
        F.round(F.avg(F.col("n_distinct_words") / F.col("n_words")), 4).alias(
            "avg_distinct_ratio"
        ),
        F.round(F.avg(T.stopword_count("text") / F.col("n_words")), 4).alias(
            "avg_stopword_ratio"
        ),
        F.round(
            F.avg(F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / F.col("n_words")),
            4,
        ).alias("avg_word_len"),
    )


def _langid_oracle() -> str:
    score_cols = []
    for lang, markers in T.LANG_MARKERS.items():
        inlist = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(
            f"len(list_filter(string_split(text, ' '), x -> x IN ({inlist}))) AS s_{lang}"
        )
    scores = ",\n               ".join(score_cols)
    langs = list(T.LANG_MARKERS)
    greatest = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    pred = "'unknown'"
    for lg in reversed(langs):
        pred = f"CASE WHEN {greatest} > 0 AND s_{lg} = {greatest} THEN '{lg}' ELSE {pred} END"
    return f"""
    WITH s AS (
        SELECT lang,
               {scores}
        FROM documents
    ),
    p AS (SELECT lang, {pred} AS predicted FROM s)
    SELECT lang, predicted, COUNT(*) AS n FROM p GROUP BY lang, predicted
    """


@query("text_langid", oracle=_langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic vs the labeled lang column:
    confusion counts."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", T.predicted_lang("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


@query(
    "text_token_counts",
    oracle=r"""
    SELECT source,
           CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS BIGINT)
               AS total_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_words,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace words + BPE-ish regex tokens
    (letter-runs | digit-runs | punctuation)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(T.token_count_regex("text")).alias("total_tokens"),
        F.sum(T.word_count("text")).alias("total_words"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "text_bpe_token_counts",
    oracle=(
        "SELECT source,\n"
        "       CAST(SUM(" + T.bpe_token_count_sql("text")
        + ") AS BIGINT) AS total_bpe_tokens,\n"
        "       CAST(SUM(len(regexp_extract_all(text,"
        " '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT)"
        " AS total_pre_tokens\n"
        "FROM documents GROUP BY source"
    ),
)
def text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT byte-pair-encoding token counts (the regex counter
    above approximates — BPE is what trainers
    actually bill by). operators/text.bpe_token_count runs the merge
    table as pure column expressions — pre-tokenize, interleave a
    two-char boundary, ONE string replace per merge in rank order —
    so the count is a map-only whole-stage-codegen projection with
    zero Python, and the oracle builds the IDENTICAL chain in DuckDB
    from the same BPE_MERGES table (bpe_token_count_sql — the two
    replays cannot drift). The encoder itself is pinned in
    tests/test_text_ops.py against an independent classic min-rank
    BPE second implementation, fuzzed over adversarial merge chains
    ("thththth" is the shared-boundary trap). The demonstration
    table is 28 common English/digit merges — the honest ceiling for
    a one-replace-node-per-merge column chain; production-size
    tables go through the mapInPandas tier
    (text_bpe_token_counts_trained below). Reported next to
    the pre-token count per source, so the BPE compression ratio of
    each source is one query away."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(T.bpe_token_count("text")).alias("total_bpe_tokens"),
        F.sum(T.token_count_regex("text")).alias("total_pre_tokens"),
    )


# Planted texts for the production-scale BPE tier: trained-vocab
# words (the table was trained over PySpark source text, so
# "DataFrame"/"partition" are single tokens), merge-chain compositions,
# the shared-boundary trap family, digit runs, and out-of-vocabulary
# junk. Quote-free so the same literals inline into the oracle VALUES.
_BPE_PLANTED: tuple[tuple[int, str], ...] = (
    (9000001, "DataFrame partition shuffle broadcast the dataframe"),
    (9000002, "internationalization stations rationing dictionary"),
    (9000003, "thththth tttthhhh ingingING sessession"),
    (9000004, "1920 2048 000000 12345 9 1000000007"),
    (9000005, "zzzqqq xq vw qqqqqqqqqqqqqqqqqqqqqqqq"),
    (9000006, "select col from table where value, order by key!"),
)

_BPE_TRAINED_ORACLE = r"""
WITH RECURSIVE merges(rank, a, b) AS (VALUES {MERGES}),
corpus AS (
    SELECT doc_id, source, text FROM documents
    UNION ALL
    SELECT * FROM (VALUES {PLANTED}) p(doc_id, source, text)
),
toks AS (
    SELECT source,
           unnest(regexp_extract_all(
               replace(replace(text, chr(30), ''), chr(31), ''),
               '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS w
    FROM corpus
),
words AS (SELECT DISTINCT w FROM toks),
enc(w, s) AS (
    SELECT w, chr(30) || chr(31) ||
           regexp_replace(w, '(.)', '\1' || chr(30) || chr(31), 'g')
    FROM words
  UNION ALL
    SELECT w, replace(s, chr(31) || a || chr(30) || chr(31) || b || chr(30),
                      chr(31) || a || b || chr(30))
    FROM (
        SELECT e.w, e.s, m.a, m.b,
               ROW_NUMBER() OVER (PARTITION BY e.w ORDER BY m.rank) AS rn
        FROM enc e JOIN merges m
          ON strpos(e.s, chr(31) || m.a || chr(30) || chr(31)
                         || m.b || chr(30)) > 0
    ) WHERE rn = 1
),
wcount AS (
    SELECT w, length(s) - length(replace(s, chr(30), '')) - 1 AS ntok,
           ROW_NUMBER() OVER (PARTITION BY w ORDER BY length(s)) AS rn
    FROM enc
),
bpe AS (
    SELECT source, CAST(SUM(ntok) AS BIGINT) AS total_bpe_tokens
    FROM toks JOIN (SELECT w, ntok FROM wcount WHERE rn = 1) USING (w)
    GROUP BY source
),
pre AS (
    SELECT source,
           CAST(SUM(len(regexp_extract_all(text,
               '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS BIGINT)
               AS total_pre_tokens,
           COUNT(*) AS n_docs
    FROM corpus GROUP BY source
)
SELECT source, total_bpe_tokens, total_pre_tokens, n_docs
FROM bpe JOIN pre USING (source)
""".replace(
    "{MERGES}", T.bpe_merges_values_sql(T.load_bpe_merges())
).replace(
    "{PLANTED}",
    ",".join(f"({i},'planted','{t}')" for i, t in _BPE_PLANTED),
)


_BPE_TRAIN_DEMO_N = 8


def _bpe_train_oracle(n: int) -> str:
    """BPE TRAINING replayed in SQL: `n` unrolled iterations of
    the classic algorithm — per distinct pre-token keep a
    boundary-delimited state string and its corpus frequency; each
    iteration extracts adjacent token pairs, counts them
    frequency-weighted, picks the (count desc, pair asc) winner, and
    applies it everywhere as one replace. The same unrolled-CTE
    playbook as _trained_cents_ctes (Lloyd training), so the trainer
    joins the quantizers in being oracle-PROVEN end to end, not just
    unit-pinned."""
    parts = [r"""
st0 AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt,
           chr(30) || chr(31) ||
           regexp_replace(w, '(.)', '\1' || chr(30) || chr(31), 'g') AS s
    FROM (SELECT unnest(regexp_extract_all(
              replace(replace(text, chr(30), ''), chr(31), ''),
              '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS w
          FROM documents)
    GROUP BY w
)"""]
    for i in range(n):
        parts.append(f"""
pairs{i} AS (
    SELECT p.a, p.b, CAST(SUM(cnt) AS BIGINT) AS n
    FROM (
        SELECT cnt, unnest(list_transform(
            generate_series(1, len(toks) - 1),
            j -> {{'a': toks[j], 'b': toks[j + 1]}})) AS p
        FROM (SELECT cnt, regexp_extract_all(
                  s, '\\x1F([^\\x1E\\x1F]+)\\x1E', 1) AS toks
              FROM st{i})
    ) GROUP BY p.a, p.b
),
win{i} AS (
    SELECT {i} AS rank, a, b FROM pairs{i}
    WHERE n >= 2 ORDER BY n DESC, a, b LIMIT 1
),
st{i + 1} AS (
    SELECT w, cnt,
           replace(s, chr(31) || win{i}.a || chr(30) || chr(31)
                      || win{i}.b || chr(30),
                   chr(31) || win{i}.a || win{i}.b || chr(30)) AS s
    FROM st{i}, win{i}
)""")
    union = " UNION ALL ".join(
        f"SELECT * FROM win{i}" for i in range(n)
    )
    return (
        "WITH " + ",".join(parts)
        + f"\nSELECT rank, a, b FROM ({union}) ORDER BY rank"
    )


@query("bpe_train_merges_demo", bench=True, oracle=_bpe_train_oracle(_BPE_TRAIN_DEMO_N))
def bpe_train_merges_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAINING over the corpus, oracle-replayed: the first
    8 merges the classic trainer learns from the documents table.
    The Spark side is the production shape — the frequency table is
    a DISTRIBUTED count (explode pre-tokens, groupBy — the only part
    that scales with corpus bytes), then training folds the BOUNDED
    vocabulary relation in memory (operators/text.train_bpe_merges;
    every production tokenizer trainer takes this shape — the vocab
    is corpus-size-independent, ~18k entries even for the 8.9M-char
    generator corpus). The oracle replays all 8 training iterations
    as unrolled CTEs (count pairs frequency-weighted, argmax with
    the trainer's exact (count desc, pair asc) tie-break, apply as
    one boundary-delimited replace), so the trainer's every choice is
    cross-engine-proven, the same standard the Lloyd-trained
    quantizers meet. The vendored 2000-merge production table
    (data/bpe_merges.txt) was trained by this same code path."""
    from ..operators.text import BPE_PRETOKEN_RE, train_bpe_merges

    d = load_table(spark, sf_dir, "documents")
    # column functions, not an F.expr SQL string: Spark's SQL-literal
    # unescaping would turn the pattern's \s into a bare 's' (latent
    # only because whitespace pre-tokens are
    # single-char and the trainer's len(w)>1 filter drops them)
    cleaned = F.replace(
        F.replace(F.col("text"), F.lit("\x1e"), F.lit("")),
        F.lit("\x1f"), F.lit(""),
    )
    counts = (
        d.select(
            F.explode(
                F.regexp_extract_all(cleaned, F.lit(BPE_PRETOKEN_RE), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        # HARD-bounded collect: the vocabulary
        # relation is corpus-size-independent in the typical case
        # (31 rows on the fixture, ~18k on the 8.9M-char generator
        # corpus) but noisy web text can explode distinct pre-tokens,
        # so the collect caps at the top-V by (count desc, token asc)
        # — the min-frequency truncation every production trainer
        # applies. The cap sits far above any fixture vocabulary, so
        # the oracle's uncapped replay is value-identical here; a
        # corpus that actually hits it would be training on hapax
        # noise anyway.
        .orderBy(F.desc("cnt"), "w")
        .limit(100_000)
        .collect()
    )
    merges = train_bpe_merges(
        {r["w"]: r["cnt"] for r in counts}, _BPE_TRAIN_DEMO_N
    )
    return local_rel(
        spark,
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, a string, b string",
    )


@query("text_bpe_token_counts_trained", bench=True, oracle=_BPE_TRAINED_ORACLE)
def text_bpe_token_counts_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT BPE token counts at PRODUCTION merge-table size (the
    column-chain form above carries one
    Catalyst replace node per merge, honest only for small tables —
    50k chained replaces would choke analysis long before 100 TB).
    The trained 2000-merge table (data/bpe_merges.txt — classic BPE
    trained in-repo over the PySpark package's own source text, a
    published merges.txt drops in unchanged; see
    operators/text.load_bpe_merges) rides the task closure as plain
    data, and operators/text.with_bpe_token_count encodes each Arrow
    batch with the textbook min-rank loop + a per-task word memo —
    map-only, zero shuffle, plan size independent of table size.

    The oracle is a genuinely independent THIRD implementation: a
    DuckDB recursive CTE running the min-rank loop per DISTINCT
    pre-token (each step joins the live states against the inlined
    merge table, picks the lowest-rank pair present, applies it as
    one boundary-delimited replace — merge-all left-to-right), then
    joins counts back onto the token stream. Planted texts exercise
    trained-vocab words, merge-chain compositions, the
    shared-boundary trap and OOV junk alongside the corpus."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    planted = local_rel(
        spark,
        [(i, "planted", t) for i, t in _BPE_PLANTED],
        "doc_id long, source string, text string",
    )
    c = d.unionByName(planted)
    counted = T.with_bpe_token_count(
        c, T.load_bpe_merges(), text_col="text", out_col="bpe_tokens"
    )
    return counted.groupBy("source").agg(
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
        F.sum(T.token_count_regex("text")).alias("total_pre_tokens"),
        F.count("*").alias("n_docs"),
    )


_BPE_IDS_ORACLE = r"""
WITH RECURSIVE merges(rank, a, b) AS (VALUES {MERGES}),
-- token string -> id: two merges CAN produce the same string, so the
-- id is MIN(rank) over the string (operators/text.bpe_merged_token_ids)
mids AS (SELECT a || b AS tok, {BASE} + MIN(rank) AS mid
         FROM merges GROUP BY a || b),
corpus AS (
    SELECT doc_id, source, text FROM documents
    UNION ALL
    SELECT * FROM (VALUES {PLANTED}) p(doc_id, source, text)
),
dtoks AS (
    SELECT doc_id, unnest(ws) AS w,
           unnest(range(1, len(ws) + 1)) AS wpos
    FROM (SELECT doc_id,
                 regexp_extract_all(
                     replace(replace(text, chr(30), ''), chr(31), ''),
                     '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]') AS ws
          FROM corpus)
),
words AS (SELECT DISTINCT w FROM dtoks),
enc(w, s) AS (
    SELECT w, chr(30) || chr(31) ||
           regexp_replace(w, '(.)', '\1' || chr(30) || chr(31), 'g')
    FROM words
  UNION ALL
    SELECT w, replace(s, chr(31) || a || chr(30) || chr(31) || b || chr(30),
                      chr(31) || a || b || chr(30))
    FROM (
        SELECT e.w, e.s, m.a, m.b,
               ROW_NUMBER() OVER (PARTITION BY e.w ORDER BY m.rank) AS rn
        FROM enc e JOIN merges m
          ON strpos(e.s, chr(31) || m.a || chr(30) || chr(31)
                         || m.b || chr(30)) > 0
    ) WHERE rn = 1
),
fin AS (
    SELECT w, s FROM (
        SELECT w, s, ROW_NUMBER() OVER (PARTITION BY w
                                        ORDER BY length(s)) AS rn
        FROM enc) WHERE rn = 1
),
-- token strings IN ORDER from the final state ("<30><31>t1<30><31>t2...")
wtoks AS (
    SELECT w, unnest(toks) AS tok,
           unnest(range(1, len(toks) + 1)) AS j
    FROM (SELECT w, list_filter(
              string_split(s, chr(30) || chr(31)), x -> x != '') AS toks
          FROM fin)
),
-- per word: the COUNT-tier ntok (length arithmetic on s — a separate
-- expression from the id extraction, so the two Spark tiers are
-- checked against two oracle paths), the id sum, and the locally
-- position-weighted id sum
wids AS (
    SELECT wt.w, COUNT(*) AS nids,
           SUM(CASE WHEN length(wt.tok) = 1 THEN ascii(wt.tok)
                    ELSE m.mid END) AS idsum,
           SUM(j * CASE WHEN length(wt.tok) = 1 THEN ascii(wt.tok)
                        ELSE m.mid END) AS wsum
    FROM wtoks wt LEFT JOIN mids m ON m.tok = wt.tok
    GROUP BY wt.w
),
wcount AS (
    SELECT w, length(s) - length(replace(s, chr(30), '')) - 1 AS ntok
    FROM fin
),
-- global position weighting: word wpos's tokens start after the
-- doc's preceding words' token counts
doffs AS (
    SELECT d.doc_id, wi.nids, wi.idsum, wi.wsum, wc.ntok,
           COALESCE(SUM(wi.nids) OVER (
               PARTITION BY d.doc_id ORDER BY d.wpos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS off
    FROM dtoks d JOIN wids wi USING (w) JOIN wcount wc USING (w)
),
dsum AS (
    SELECT doc_id, SUM(ntok) AS bpe_tokens, SUM(nids) AS nids,
           SUM(wsum + off * idsum) AS checksum
    FROM doffs GROUP BY doc_id
)
SELECT c.source,
       COUNT(*) AS n_docs,
       CAST(SUM(COALESCE(d.bpe_tokens, 0)) AS BIGINT) AS total_bpe_tokens,
       CAST(SUM(COALESCE(d.nids, 0)) AS BIGINT) AS total_ids,
       CAST(SUM(COALESCE(d.checksum, 0)) AS BIGINT) AS ids_checksum
FROM corpus c LEFT JOIN dsum d USING (doc_id)
GROUP BY c.source
""".replace(
    "{MERGES}", T.bpe_merges_values_sql(T.load_bpe_merges())
).replace(
    "{BASE}", str(T.BPE_MERGED_ID_BASE)
).replace(
    "{PLANTED}",
    ",".join(f"({i},'planted','{t}')" for i, t in _BPE_PLANTED),
)


@query("text_bpe_token_ids", bench=True, oracle=_BPE_IDS_ORACLE)
def text_bpe_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-ID emission under the trained table (the tier the
    packing/serving compositions consume):
    operators/text.with_bpe_token_ids encodes each document to its
    full id array (codepoint for single-char tokens,
    BPE_MERGED_ID_BASE + min-rank for merges — deterministic in the
    token STRING, so two merges producing the same string cannot
    fork the id). The result runs the corpus through BOTH encoder
    tiers and reports, per source, the count tier's total
    (with_bpe_token_count) NEXT TO the id tier's array sizes and a
    position-weighted id checksum (sum over global token position j
    of j * id_j) — the sum(len(ids)) == bpe_tokens invariant is
    driver-checked on every run because a divergence between the two
    mapInPandas tiers hash-mismatches against the oracle, which
    derives the two totals from two different expressions over the
    SAME recursive-CTE final state (length arithmetic vs token
    extraction + id join). Map-only, plan size independent of table
    size — the count tier's 100 TB story verbatim."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    planted = local_rel(
        spark,
        [(i, "planted", t) for i, t in _BPE_PLANTED],
        "doc_id long, source string, text string",
    )
    merges = T.load_bpe_merges()
    both = T.with_bpe_token_count(
        T.with_bpe_token_ids(
            # the chained encoders run in ONE task chain; spread the
            # fixture's single parquet split first (the codec-map rule)
            # — conditionally: on a production-sized scan the
            # unconditional form would coalesce it onto #cores
            _spread_small_scan(spark, sf_dir, d.unionByName(planted)),
            merges,
            out_col="bpe_token_ids",
        ),
        merges,
        out_col="bpe_tokens",
    )
    ids = F.col("bpe_token_ids")
    terms = F.zip_with(
        F.sequence(F.lit(1), F.size(ids)),
        ids,
        lambda j, v: j.cast("long") * v,
    )
    # size 0 guard: sequence(1, 0) DESCENDS ([1, 0]) — never feed it
    checksum = F.when(
        F.size(ids) > 0,
        F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x),
    ).otherwise(F.lit(0).cast("long"))
    return both.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
        F.sum(F.size(ids).cast("long")).alias("total_ids"),
        F.sum(checksum).alias("ids_checksum"),
    )


@query(
    "doc_fingerprint_dups",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL}),
    fp AS (
        SELECT doc_id,
               list_sum(list_transform(generate_series(1, length(text)),
                        i -> ascii(substring(text, i, 1)) * i)) % 1000000007 AS fingerprint
        FROM corpus
    )
    SELECT CAST(fingerprint AS BIGINT) AS fingerprint,
           COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM fp GROUP BY fingerprint HAVING COUNT(*) > 1
    """,
)
def doc_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-weighted fingerprint dedup (rolling-hash family): one
    projection + one aggregation; catches the planted verbatim copies
    without shuffling full documents."""
    c = corpus(spark, sf_dir)
    return (
        c.select("doc_id", T.fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


@query(
    "decontamination_stats",
    oracle="""
    WITH docs AS (SELECT doc_id, source, text FROM documents),
    cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs),
    csh AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(generate_series(1, len(w) - 2),
                      i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingle
        FROM cw WHERE len(w) >= 3
    ),
    bw AS (SELECT string_split(text, ' ') AS w FROM docs WHERE doc_id % 50 = 0),
    bsh AS (
        SELECT DISTINCT
               UNNEST(list_transform(generate_series(1, len(w) - 2),
                      i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingle
        FROM bw WHERE len(w) >= 3
    ),
    hits AS (
        SELECT DISTINCT doc_id FROM csh
        WHERE shingle IN (SELECT shingle FROM bsh)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM hits)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
    FROM docs
    GROUP BY source
    ORDER BY source
    """,
)
def decontamination_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.flag_contaminated):
    every 50th document stands in for an eval set; corpus documents
    sharing any 3-word shingle with it are flagged, reported per
    source. At production n (8-13 words) and scale the shape is
    unchanged: broadcast benchmark shingles, inverted-index semi-join
    on the corpus side."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    flagged = D.flag_contaminated(docs, bench, n=3)
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("contaminated").cast("long")).alias("n_contaminated"),
        )
        .orderBy("source")
    )


@query(
    "text_word_entropy",
    oracle="""
    WITH words AS (
        SELECT source, doc_id, UNNEST(string_split(text, ' ')) AS word
        FROM documents
    ),
    wc AS (
        SELECT source, doc_id, word, COUNT(*) AS n
        FROM words GROUP BY source, doc_id, word
    ),
    ent AS (
        SELECT source, doc_id,
               ROUND(log2(SUM(n) * 1.0)
                     - SUM(n * log2(n * 1.0)) / SUM(n), 4) AS h
        FROM wc
        GROUP BY source, doc_id
    )
    SELECT source,
           ROUND(AVG(h), 4) AS avg_entropy,
           ROUND(MIN(h), 4) AS min_entropy,
           ROUND(MAX(h), 4) AS max_entropy
    FROM ent
    GROUP BY source
    ORDER BY source
    """,
)
def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-distribution Shannon entropy per document, summarized per
    source — the lexical-diversity quality signal (low entropy =
    repetitive/boilerplate). Uses the join-free identity
    H = log2(N) - sum(n*log2 n)/N, so the plan is just two
    map-side-combined hash aggregates on doc-prefixed keys — no
    doc-count-sized join anywhere (the naive p*log2 p formulation
    needs a per-doc total joined back onto the counts)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source", "doc_id", F.explode(F.split("text", " ")).alias("word"))
    wc = words.groupBy("source", "doc_id", "word").agg(
        F.count("*").alias("n"))
    n = F.col("n")
    ent = (
        wc.groupBy("source", "doc_id")
        .agg(
            F.round(
                F.log2(F.sum(n)) - F.sum(n * F.log2(n)) / F.sum(n), 4
            ).alias("h")
        )
    )
    return (
        ent.groupBy("source")
        .agg(
            F.round(F.avg("h"), 4).alias("avg_entropy"),
            F.round(F.min("h"), 4).alias("min_entropy"),
            F.round(F.max("h"), 4).alias("max_entropy"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------

@query(
    "multimodal_features",
    oracle="""
    WITH f AS (
        SELECT doc_id, source,
               octet_length(encode(text)) AS byte_len,
               list_sum(list_transform(generate_series(1, length(text)),
                        i -> ascii(substring(text, i, 1)))) % 65536 AS checksum,
               octet_length(encode(text)) % 640 + 1 AS width,
               octet_length(encode(text)) * 7 % 480 + 1 AS height
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_blobs,
           CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
           CAST(SUM(checksum) AS BIGINT) AS sum_checksum,
           ROUND(AVG(width), 4) AS avg_width,
           ROUND(AVG(height), 4) AS avg_height
    FROM f GROUP BY source
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline: attach binary payload + metadata struct,
    extract features per Arrow batch via mapInPandas (real byte-level
    work in Python), aggregate. The oracle recomputes the same features
    from the utf-8 bytes in SQL — checksum mismatch would catch any
    batch-boundary or encoding bug in the pandas path."""
    d = load_table(spark, sf_dir, "documents")
    blobs = M.attach_blob(d)
    feats = M.extract_features(blobs)
    joined = feats.join(d.select("doc_id", "source"), "doc_id")
    return joined.groupBy("source").agg(
        F.count("*").alias("n_blobs"),
        F.sum("byte_len").alias("total_bytes"),
        F.sum("checksum").alias("sum_checksum"),
        F.round(F.avg("width"), 4).alias("avg_width"),
        F.round(F.avg("height"), 4).alias("avg_height"),
    )


@query(
    "multimodal_blob_schema",
    oracle="""
    SELECT doc_id,
           'text' AS modality,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           md5(text) AS blob_md5
    FROM documents
    """,
)
def multimodal_blob_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binary + metadata-struct layout itself (BinaryType payload,
    struct<modality,byte_len>): metadata projection plus an md5 over the
    actual blob bytes. The oracle reads the same parquet and replays
    md5 over the source text (the corpus is ASCII, so utf-8 bytes ==
    characters) — a digest mismatch would catch any corruption in the
    binary column path. At scale, drop the md5 column and this is the
    blob-untouched column-pruned metadata fast path."""
    d = load_table(spark, sf_dir, "documents")
    blobs = M.attach_blob(d)
    return blobs.select(
        "doc_id",
        F.col("meta.modality").alias("modality"),
        F.col("meta.byte_len").alias("byte_len"),
        F.md5("blob").alias("blob_md5"),
    )


_DECODE_IMG_SCHEMA = (
    "doc_id long, width long, height long, pix_checksum long"
)


@query(
    "multimodal_decode_image",
    bench=True,
    oracle="""
    SELECT doc_id,
           doc_id % 3 + 2 AS width,
           (doc_id // 3) % 2 + 2 AS height,
           CAST(list_sum(list_transform(
                generate_series(1, CAST((doc_id % 3 + 2)
                                        * ((doc_id // 3) % 2 + 2) * 3 AS INT)),
                i -> ascii(substring(text, CAST((i - 1) % length(text) AS INT) + 1,
                                     1)))) AS BIGINT) AS pix_checksum
    FROM documents
    """,
)
def multimodal_decode_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode through the BMP codec: per document, build a
    (doc_id-derived) WxH 24-bpp BMP whose pixels are the leading text
    bytes, then DECODE it and emit the decoded geometry + pixel
    checksum. The oracle recomputes the checksum from the source text —
    it matches only if decode(encode(px)) == px byte-for-byte (BGR swap,
    bottom-up row order, and 4-byte row padding all exercised). Scale:
    mapInPandas over Arrow batches, one Python worker per partition, no
    shuffle at all."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def batches(it):
        import pandas as pd

        for pdf in it:
            out = {"doc_id": [], "width": [], "height": [], "pix_checksum": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(doc_id)
                w, h = i % 3 + 2, (i // 3) % 2 + 2
                k = w * h * 3
                raw = text.encode("utf-8")
                px = (raw * (k // len(raw) + 1))[:k]  # cycle short docs
                dec = M.decode_image(M.encode_bmp(w, h, px))
                out["doc_id"].append(i)
                out["width"].append(dec["width"])
                out["height"].append(dec["height"])
                out["pix_checksum"].append(sum(dec["pixels"]))
            yield pd.DataFrame(out)

    return d.mapInPandas(batches, _DECODE_IMG_SCHEMA)


_DECODE_PNG_SCHEMA = (
    "doc_id long, mode string, width long, height long, pix_checksum long"
)


@query(
    "multimodal_decode_png",
    bench=True,
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'L' WHEN 1 THEN 'RGB'
                ELSE 'RGBA' END AS mode,
           doc_id % 4 + 2 AS width,
           doc_id % 2 + 5 AS height,
           CAST(list_sum(list_transform(
                generate_series(1, CAST((doc_id % 4 + 2) * (doc_id % 2 + 5)
                     * (CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3
                        ELSE 4 END) AS INT)),
                i -> ascii(substring(text, CAST((i - 1) % length(text) AS INT) + 1,
                                     1)))) AS BIGINT) AS pix_checksum
    FROM documents
    """,
)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real COMPRESSED-image decode through the PNG codec
    (operators/multimodal.encode_png/decode_png — stdlib zlib DEFLATE,
    all five scanline filters, chunk CRCs): per document, synthesize a
    doc_id-derived WxH image in a doc_id-derived mode (gray/RGB/RGBA
    all exercised across the corpus) whose samples are the leading
    text bytes, encode it as a PNG — heights of 5-6 rows mean every
    image passes through ALL five filter types (encode filters row y
    with type y % 5) — then DECODE it and emit the decoded geometry,
    mode and sample checksum. The oracle recomputes the checksum from
    the source text, so it matches only if inflate + unfilter return
    the exact samples that went in. Same no-shuffle mapInPandas shape
    as the BMP/WAV twins; the codec cost is per-row Python over tiny
    payloads — at 100 TB this operator's scale story is the Arrow
    batch pipe and partition-parallel decode, not the toy geometry."""
    # spread the per-row pure-Python codec work — conditionally: the
    # fixture parquet is one split (the jpeg-leg query's rule), but on
    # a production-sized scan an unconditional
    # repartition would coalesce it onto #cores partitions
    d = _spread_small_scan(
        spark, sf_dir,
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
    )

    def batches(it):
        import pandas as pd

        modes = {0: ("L", 1), 1: ("RGB", 3), 2: ("RGBA", 4)}
        for pdf in it:
            out = {
                "doc_id": [], "mode": [], "width": [],
                "height": [], "pix_checksum": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(doc_id)
                mode, ch = modes[i % 3]
                w, h = i % 4 + 2, i % 2 + 5
                k = w * h * ch
                raw = text.encode("utf-8")
                px = (raw * (k // len(raw) + 1))[:k]  # cycle short docs
                dec = M.decode_png(M.encode_png(w, h, px, mode))
                out["doc_id"].append(i)
                out["mode"].append(dec["mode"])
                out["width"].append(dec["width"])
                out["height"].append(dec["height"])
                out["pix_checksum"].append(sum(dec["pixels"]))
            yield pd.DataFrame(out)

    return d.mapInPandas(batches, _DECODE_PNG_SCHEMA)


_DECODE_AUDIO_SCHEMA = (
    "doc_id long, sample_rate long, n_samples long, sum_samples long"
)


@query(
    "multimodal_decode_audio",
    oracle="""
    SELECT doc_id,
           8000 + (doc_id % 3) * 4000 AS sample_rate,
           doc_id % 10 + 5 AS n_samples,
           CAST(list_sum(list_transform(
                generate_series(1, CAST(doc_id % 10 + 5 AS INT)),
                i -> ascii(substring(text, CAST((i - 1) % length(text) AS INT) + 1,
                                     1)) * 31 % 4096))
                AS BIGINT) AS sum_samples
    FROM documents
    """,
)
def multimodal_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio decode through the WAV codec: per document, synthesize
    N 16-bit PCM samples from the leading text bytes, encode a RIFF/WAVE
    container, DECODE it back and emit rate / count / sum of the decoded
    samples. Oracle replays the sample synthesis in SQL — a mismatch
    catches any chunk-walk or sample-width bug. Same no-shuffle
    mapInPandas shape as the image twin."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def batches(it):
        import pandas as pd

        for pdf in it:
            out = {
                "doc_id": [], "sample_rate": [],
                "n_samples": [], "sum_samples": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(doc_id)
                n, rate = i % 10 + 5, 8000 + (i % 3) * 4000
                raw = text.encode("utf-8")
                samples = [raw[j % len(raw)] * 31 % 4096 for j in range(n)]
                dec = M.decode_audio(M.encode_wav(samples, rate))
                out["doc_id"].append(i)
                out["sample_rate"].append(dec["sample_rate"])
                out["n_samples"].append(len(dec["samples"]))
                out["sum_samples"].append(sum(dec["samples"]))
            yield pd.DataFrame(out)

    return d.mapInPandas(batches, _DECODE_AUDIO_SCHEMA)


@query(
    "corpus_quality_filter",
    oracle="""
    WITH q AS (
        SELECT doc_id, source, n_chars, text,
               len(string_split(text, ' ')) AS n_words,
               len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')) AS dr,
               len(list_filter(string_split(text, ' '),
                   x -> x IN ('the', 'a', 'of', 'and', 'to'))) * 1.0
                   / len(string_split(text, ' ')) AS sr
        FROM documents
    ),
    kept AS (
        SELECT *,
               trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        FROM q
        WHERE n_words >= 20 AND dr >= 0.3 AND sr >= 0.02
    ),
    keep_ids AS (SELECT norm, MIN(doc_id) AS doc_id FROM kept GROUP BY norm)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM kept JOIN keep_ids USING (norm, doc_id)
    GROUP BY source
    ORDER BY source
    """,
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pre-training corpus filter as one pipeline: quality
    thresholds (length, lexical diversity, stopword density) →
    normalized-text exact dedup (min-id representative) → per-source
    survivor stats. Scale: the quality pass is a narrow codegen'd
    projection; the dedup is one shuffle on the normalized-text hash."""
    from ..operators.dedup import exact_dedup, normalize_text

    d = T.quality_features(load_table(spark, sf_dir, "documents"))
    kept = d.filter(
        (F.col("n_words") >= 20)
        & (F.col("distinct_ratio") >= 0.3)
        & (F.col("stopword_ratio") >= 0.02)
    ).withColumn("norm", normalize_text("text"))
    deduped = exact_dedup(kept, ["norm"], "doc_id")
    return (
        deduped.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


_SAMPLE_BUCKET_SQL = _H31.format(
    x="concat('sample:', CAST(doc_id AS VARCHAR))"
) + " % 10000"


@query(
    "dataset_split_counts",
    oracle=f"""
    WITH b AS (
        SELECT source, n_chars, {_SAMPLE_BUCKET_SQL} AS bucket
        FROM documents
    )
    SELECT source,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b
    GROUP BY source, CASE WHEN bucket < 9000 THEN 'train'
                          WHEN bucket < 9500 THEN 'val'
                          ELSE 'test' END
    ORDER BY source, split
    """,
)
def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (operators/sampling.py):
    membership is a pure function of doc identity (md5-derived), so the
    split is reproducible across engines, partitionings, and reruns —
    sample()/sampleBy() are none of those. Oracle replays the identical
    hash arithmetic."""
    from ..operators.sampling import split_by_hash

    d = load_table(spark, sf_dir, "documents")
    out = split_by_hash(d, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    return (
        out.groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source", "split")
    )


@query(
    "deterministic_sample_stats",
    oracle=f"""
    WITH b AS (
        SELECT lang, n_chars, {_SAMPLE_BUCKET_SQL} AS bucket
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b WHERE bucket < 1000
    GROUP BY lang
    ORDER BY lang
    """,
)
def deterministic_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% identity-hash sample, per-language stats. Composable (the 1%
    sample is a strict subset of this one) and stable as the corpus
    grows — a row's membership never depends on other rows."""
    from ..operators.sampling import deterministic_sample

    d = load_table(spark, sf_dir, "documents")
    return (
        deterministic_sample(d, "doc_id", 0.10)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


@query(
    "top_terms_tfidf",
    oracle="""
    WITH terms AS (
        SELECT source, doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    df_t AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df
        FROM terms GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    tf_src AS (
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM terms GROUP BY source, term
    ),
    scored AS (
        SELECT source, term, tf,
               ROUND(tf * ln(n_docs * 1.0 / df), 6) AS tfidf
        FROM tf_src JOIN df_t USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY tfidf DESC, term) AS rn
        FROM scored
    )
    SELECT source, term, tf, tfidf, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 3
    ORDER BY source, rn
    """,
)
def top_terms_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source characteristic terms by TF-IDF — explode, two
    aggregations, per-group top-k via row_number. Scale: the only big
    shuffles key on term and (source, term); document frequency is one
    row per distinct term — vocabulary-sized, which grows with the
    corpus, so its join is unhinted (AQE broadcasts while small); the
    corpus-count scalar broadcasts unconditionally."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select(
        "source", "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    df_t = (
        terms.groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    n_docs = d.agg(F.count("*").alias("n_docs"))
    tf_src = terms.groupBy("source", "term").agg(F.count("*").alias("tf"))
    scored = (
        # bcast bound: df_t is vocabulary-sized, which grows with the
        # corpus (Heaps' law) — no hint; AQE broadcasts while small,
        # shuffle join on the term key once it isn't
        tf_src.join(df_t, "term")
        .join(F.broadcast(n_docs))  # bcast bound: 1-row scalar
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("source", "term", "tf", "tfidf", F.col("rn").cast("int").alias("rn"))
        .orderBy("source", "rn")
    )


@query(
    "embedding_label_centroids",
    oracle="""
    WITH pos AS (
        SELECT label, CAST(embedding[gs.pos] AS DOUBLE) AS x, gs.pos
        FROM embeddings, generate_series(1, 64) AS gs(pos)
    ),
    per_pos AS (
        SELECT label, pos, AVG(x) AS m FROM pos GROUP BY label, pos
    )
    SELECT label,
           ROUND(MIN(m), 6) AS min_dim_mean,
           ROUND(MAX(m), 6) AS max_dim_mean,
           ROUND(AVG(m), 6) AS avg_dim_mean
    FROM per_pos
    GROUP BY label
    ORDER BY label
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid summary (min/max/mean of the centroid's
    dimensions) via the column-native centroid op. The full vectors are
    compared Spark-vs-pandas in tests/test_similarity.py; the oracle
    checks the arithmetic against DuckDB's UNNEST WITH ORDINALITY."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = S.label_centroids(e)
    c = F.col("centroid")
    return (
        cents.select(
            "label",
            F.round(F.array_min(c), 6).alias("min_dim_mean"),
            F.round(F.array_max(c), 6).alias("max_dim_mean"),
            F.round(
                F.aggregate(c, F.lit(0.0), lambda a, x: a + x) / F.size(c), 6
            ).alias("avg_dim_mean"),
        )
        .orderBy("label")
    )


_KMEANS_ORACLE = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cvec FROM e ORDER BY vec_id LIMIT 8),
    scored AS (
        SELECT e.vec_id, e.v, c.cid,
               list_dot_product(e.v, c.cvec) /
               (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS score
        FROM e CROSS JOIN cents c),
    assign AS (
        SELECT vec_id, v, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY score DESC, cid) AS rn
            FROM scored) t WHERE rn = 1),
    newc AS (
        SELECT cid AS cell, gs.pos, AVG(v[gs.pos]) AS m
        FROM assign, generate_series(1, 64) AS gs(pos)
        GROUP BY cid, gs.pos),
    vnorm AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nv FROM e),
    cnorm AS (SELECT cell, sqrt(SUM(m * m)) AS nc FROM newc GROUP BY cell),
    dots AS (
        SELECT e2.vec_id, n.cell, SUM(e2.v[n.pos] * n.m) AS d
        FROM e e2, newc n
        GROUP BY e2.vec_id, n.cell),
    scored2 AS (
        SELECT d2.vec_id, d2.cell, d2.d / (vn.nv * cn.nc) AS score
        FROM dots d2 JOIN vnorm vn USING (vec_id) JOIN cnorm cn USING (cell)),
    final AS (
        SELECT vec_id, cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY score DESC, cell) AS rn
            FROM scored2) t WHERE rn = 1),
    sizes AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members
              FROM final GROUP BY cell),
    summ AS (SELECT cell, ROUND(MIN(m), 6) AS min_dim,
                    ROUND(MAX(m), 6) AS max_dim,
                    ROUND(AVG(m), 6) AS avg_dim
             FROM newc GROUP BY cell)
    SELECT s.cell, COALESCE(z.n_members, 0) AS n_members,
           s.min_dim, s.max_dim, s.avg_dim
    FROM summ s LEFT JOIN sizes z USING (cell)
    ORDER BY s.cell
    """


@query("kmeans_refined_cells", oracle=_KMEANS_ORACLE)
def kmeans_refined_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration over the IVF seed centroids (operators/
    similarity.kmeans_refine), summarized per cell — iterative ML-style
    refinement expressed as pure DataFrame ops and replayed exactly in
    SQL (deterministic seeds + fixed tie-breaks make the whole
    iteration engine-portable)."""
    e = load_table(spark, sf_dir, "embeddings")
    out = S.kmeans_refine(e, n_cells=8, iterations=1)
    c = F.col("centroid")
    return (
        out.select(
            F.col("cell").cast("long").alias("cell"),
            "n_members",
            F.round(F.array_min(c), 6).alias("min_dim"),
            F.round(F.array_max(c), 6).alias("max_dim"),
            F.round(
                F.aggregate(c, F.lit(0.0), lambda a, x: a + x) / F.size(c), 6
            ).alias("avg_dim"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# text analysis: repetition, deny-list scrubbing, bigram language model
# ---------------------------------------------------------------------------

@query(
    "text_repetition_stats",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    words AS (SELECT doc_id, UNNEST(w) AS word FROM w),
    wc AS (SELECT doc_id, word, COUNT(*) AS c FROM words GROUP BY 1, 2),
    tw AS (
        SELECT doc_id,
               ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 4)
                   AS top_word_ratio
        FROM wc GROUP BY doc_id
    ),
    bg AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(w) - 1),
                              i -> concat_ws(' ', w[i], w[i+1])) AS b
        FROM w
    ),
    br AS (
        SELECT doc_id,
               ROUND(1 - CAST(len(list_distinct(b)) AS DOUBLE) / len(b), 4)
                   AS dup_bigram_ratio
        FROM bg WHERE len(b) > 0
    )
    SELECT tw.doc_id, top_word_ratio, dup_bigram_ratio
    FROM tw JOIN br USING (doc_id)
    ORDER BY top_word_ratio DESC, doc_id
    LIMIT 15
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/repetition scoring: the 15 most repetitive documents
    by top-word concentration, with the repeated-bigram ratio alongside
    — the two standard signals a corpus-cleaning pass thresholds on.

    Scale: top_word_ratio is explode → two map-side-combined hash aggs
    on doc-prefixed keys; dup_bigram_ratio never explodes (pure column
    expression over the bigram array); the only join is doc-keyed
    between two doc-count-sized relations, and the final top-k is a
    TakeOrdered, not a global sort."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    tw = wc.groupBy("doc_id").agg(
        F.round(F.max("c") / F.sum("c"), 4).alias("top_word_ratio")
    )
    br = docs.select(
        "doc_id", T.dup_bigram_ratio("text").alias("dup_bigram_ratio")
    ).filter(F.col("dup_bigram_ratio").isNotNull())
    return (
        tw.join(br, "doc_id")
        .select("doc_id", "top_word_ratio", "dup_bigram_ratio")
        .orderBy(F.desc("top_word_ratio"), "doc_id")
        .limit(15)
    )


@query(
    "text_denylist_scrub",
    oracle=rf"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '{T.DENYLIST_RE}'))) AS BIGINT)
               AS total_redactions,
           CAST(SUM(length(text)) AS BIGINT) AS chars_before,
           CAST(SUM(length(regexp_replace(text, '{T.DENYLIST_RE}', '[X]', 'g'))) AS BIGINT)
               AS chars_after
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def text_denylist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deny-list redaction (the PII/bad-term masking pass of a training
    pipeline): per source, how many term occurrences were masked and
    the byte delta of the scrubbed corpus. Word-bounded regex, one
    codegen'd projection + one map-side-combined aggregate — no Python,
    no join, no second pass over the text."""
    docs = load_table(spark, sf_dir, "documents")
    scrubbed = docs.select(
        "source",
        T.denylist_hits("text").alias("hits"),
        F.length("text").alias("len_before"),
        F.length(T.denylist_scrub("text")).alias("len_after"),
    )
    return (
        scrubbed.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("hits").alias("total_redactions"),
            F.sum("len_before").alias("chars_before"),
            F.sum("len_after").alias("chars_after"),
        )
        .orderBy("source")
    )


@query(
    "text_bigram_logprob",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (
        SELECT doc_id,
               UNNEST(list_transform(generate_series(1, len(w) - 1),
                      i -> concat_ws(' ', w[i], w[i+1]))) AS bigram
        FROM w WHERE len(w) >= 2
    ),
    bc AS (SELECT bigram, COUNT(*) AS c_bg FROM bg GROUP BY bigram),
    uc AS (
        SELECT split_part(bigram, ' ', 1) AS w1,
               CAST(SUM(c_bg) AS BIGINT) AS c_w1
        FROM bc GROUP BY 1
    ),
    lp AS (
        SELECT bigram,
               log2(CAST(c_bg AS DOUBLE) / c_w1) AS logp
        FROM bc JOIN uc ON split_part(bc.bigram, ' ', 1) = uc.w1
    )
    SELECT doc_id,
           ROUND(AVG(logp), 4) AS lm_score,
           COUNT(*) AS n_bigrams
    FROM bg JOIN lp USING (bigram)
    GROUP BY doc_id
    ORDER BY lm_score, doc_id
    LIMIT 15
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality scoring (KenLM-style, corpus-
    self-trained): score each document by mean log2 P(w2|w1) under the
    corpus bigram distribution and surface the 15 most surprising
    (lowest-probability) documents — the perplexity-ish filter a
    pretraining pipeline uses to drop gibberish.

    Scale: the model (bigram → conditional logprob) is vocabulary²-
    bounded — broadcast — so scoring is explode + broadcast hash join +
    one map-side-combined re-agg by doc_id; the corpus itself is never
    shuffled. The unigram table derives from the bigram counts (sum
    over w2), not a second corpus pass."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bg = docs.select(
        "doc_id", F.explode(T.bigrams("text")).alias("bigram")
    )
    bc = bg.groupBy("bigram").agg(F.count("*").alias("c_bg"))
    uc = bc.groupBy(
        F.substring_index("bigram", " ", 1).alias("w1")
    ).agg(F.sum("c_bg").alias("c_w1"))
    lp = (
        bc.join(uc, F.substring_index(bc.bigram, " ", 1) == uc.w1)
        .select("bigram", F.log2(F.col("c_bg") / F.col("c_w1")).alias("logp"))
    )
    return (
        # bcast bound: lp is bigram-vocabulary-sized — grows with the
        # corpus faster than the unigram vocab — no hint, AQE decides
        bg.join(lp, "bigram")
        .groupBy("doc_id")
        .agg(
            F.round(F.avg("logp"), 4).alias("lm_score"),
            F.count("*").alias("n_bigrams"),
        )
        .orderBy("lm_score", "doc_id")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# dataset mixing: exact stratified quotas; embedding compression
# ---------------------------------------------------------------------------

_STRAT_H31 = _H31.format(x="concat('strat:', CAST(doc_id AS VARCHAR))")

@query(
    "stratified_sample_per_source",
    oracle=f"""
    WITH ranked AS (
        SELECT source, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY {_STRAT_H31}, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept
    FROM ranked
    WHERE rn <= CEIL(ROUND(n * 0.2, 9))
    GROUP BY source
    ORDER BY source
    """,
)
def stratified_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sampling (operators/sampling.stratified_sample):
    keep precisely ceil(20%) of every source — the dataset-mixing
    primitive where per-stratum proportions are the contract, not an
    expectation. Identity-hash ranking makes the selected rows
    reproducible across engines and reruns (the oracle replays the
    identical ranking)."""
    from ..operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_sample(docs, ["source"], "doc_id", 0.2)
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_chars").alias("chars_kept"),
        )
        .orderBy("source")
    )


@query(
    "embedding_quantize_error",
    oracle="""
    WITH e AS (
        SELECT label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (
        SELECT label, v,
               list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        FROM e
    ),
    err AS (
        SELECT label, scale,
               CASE WHEN scale > 0 THEN
                   sqrt(list_aggregate(
                       list_transform(v, x ->
                           (x - round(x/scale)*scale) * (x - round(x/scale)*scale)),
                       'sum') / len(v))
               ELSE 0.0 END AS rmse,
               CASE WHEN scale > 0 THEN
                   list_max(list_transform(v, x -> abs(x - round(x/scale)*scale)))
               ELSE 0.0 END AS max_abs
        FROM q
    )
    SELECT label,
           ROUND(AVG(rmse), 6) AS avg_rmse,
           ROUND(MAX(max_abs), 6) AS max_abs_err,
           ROUND(AVG(scale), 6) AS avg_scale
    FROM err
    GROUP BY label
    ORDER BY label
    """,
)
def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization evaluated by reconstruction error,
    per label (operators/similarity.quantize_int8_error) — the vector-
    compression hygiene check before shipping embeddings to an ANN
    index. Pure column expressions over array<float>: one narrow
    projection + one aggregate, the corpus is never shuffled except by
    the label groupBy."""
    from ..operators.similarity import quantize_int8_error

    emb = load_table(spark, sf_dir, "embeddings")
    scale, rmse, max_abs = quantize_int8_error("embedding")
    per = emb.select(
        "label",
        scale.alias("scale"),
        rmse.alias("rmse"),
        max_abs.alias("max_abs"),
    )
    return (
        per.groupBy("label")
        .agg(
            F.round(F.avg("rmse"), 6).alias("avg_rmse"),
            F.round(F.max("max_abs"), 6).alias("max_abs_err"),
            F.round(F.avg("scale"), 6).alias("avg_scale"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# skew-salted join (operators/skew.py) — result-identical to plain join
# ---------------------------------------------------------------------------

@query(
    "salted_priority_revenue",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT o_orderpriority,
               CAST(substring(o_orderpriority, 1, 1) AS INT) AS weight
        FROM orders
    )
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice * d.weight), 2) AS weighted_revenue
    FROM orders o JOIN dim d USING (o_orderpriority)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def salted_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salting pattern under differential proof: orders join a
    5-row priority dimension on o_orderpriority — the degenerate-key
    case where an unsalted shuffle join lands EVERYTHING in ≤5
    reducers. `salted_join` spreads each key over 8 salt lanes (the
    plan shows hashpartitioning on (key, __salt); asserted in
    tests/test_plans.py), and the oracle replays the PLAIN join —
    passing proves salting changes the schedule, never the result.
    In production you'd broadcast a 5-row dim; salting is for dims too
    big to broadcast — the 5-row fixture just makes the skew extreme
    and the identity check cheap."""
    from ..operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders")
    dim = o.select("o_orderpriority").distinct().withColumn(
        "weight", F.substring("o_orderpriority", 1, 1).cast("int")
    )
    j = salted_join(o, dim, on="o_orderpriority",
                    fact_id_col="o_orderkey", factor=8)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice") * F.col("weight")), 2)
            .alias("weighted_revenue"),
        )
        .orderBy("o_orderpriority")
    )


def _embedding_cluster_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_neardup_lsh_oracle()}),
    {_EXACT_CC_SQL}
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM (
        SELECT lbl, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM conn GROUP BY lbl
    ) s
    GROUP BY cluster_size
    ORDER BY cluster_size
    """


@query("embedding_cluster_sizes", oracle=_embedding_cluster_oracle())
def embedding_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup CLUSTERS: the LSH-bucketed cosine pairs
    (embedding_neardup_lsh) fed through the same min-label propagation
    as the text path (operators/dedup.cluster_pairs) — one dedup
    decision per group of mutually-near vectors, the keep-one rule
    being `id == cluster_id`. Completes the clustering row for the
    embedding modality; the oracle computes EXACT connected components
    over the identically-replayed pair set via a recursive-CTE
    transitive closure — an sf0.1 soak caught a fixed 2-round
    replay diverging on a component whose min-id node sits more than
    4 hops from a member."""

    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", S.signrp_bucket("embedding")
    )
    pairs = S.neardup_pairs_blocked(e, block_col="bucket", threshold=0.35)
    labels = D.cluster_pairs(pairs, iterations=2)
    out = (
        labels.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )
    return D.pin(out, labels)


# ---------------------------------------------------------------------------
# weighted sampling + source mixture weights
# ---------------------------------------------------------------------------

_WS_H31 = _H31.format(x="concat('wsample:', CAST(o_orderkey AS VARCHAR))")

@query(
    "weighted_sample_orders",
    bench=True,
    oracle=f"""
    WITH keyed AS (
        -- WHERE mirrors weighted_topk's weight > 0 filter: the operator
        -- drops non-positive weights entirely, so keeping them with a
        -- -infinity key would let them into the top-k whenever fewer
        -- than k positive-weight rows exist (silent on TPC-H only
        -- because totalprice is always positive).
        SELECT o_orderkey, o_totalprice,
               ROUND(LN(({_WS_H31} + 1) / 2147483647.0)
                     / o_totalprice, 12) AS wkey
        FROM orders
        WHERE o_totalprice > 0
    ),
    top AS (
        SELECT o_orderkey, o_totalprice
        FROM keyed ORDER BY wkey DESC, o_orderkey LIMIT 200
    )
    SELECT COUNT(*) AS n_sampled,
           CAST(SUM(o_orderkey % 997) AS BIGINT) AS id_checksum,
           ROUND(SUM(o_totalprice), 2) AS sampled_value,
           ROUND(MIN(o_totalprice), 2) AS min_value
    FROM top
    """,
)
def weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-weighted order sample (operators/sampling.weighted_topk —
    the Efraimidis–Spirakis A-ES key over the identity hash): 200
    orders drawn with probability proportional to o_totalprice,
    deterministically. The checksum pins the exact member set, so the
    differential test proves both engines select the SAME rows — the
    reproducibility property that distinguishes this from
    df.sample(weights). Spark plans the selection as
    TakeOrderedAndProject: per-partition top-k before one merge, no
    global sort, the same shape at any scale."""
    from ..operators.sampling import weighted_topk

    o = load_table(spark, sf_dir, "orders")
    s = weighted_topk(o, "o_totalprice", "o_orderkey", k=200)
    return s.agg(
        F.count("*").alias("n_sampled"),
        F.sum(F.col("o_orderkey") % 997).alias("id_checksum"),
        F.round(F.sum("o_totalprice"), 2).alias("sampled_value"),
        F.round(F.min("o_totalprice"), 2).alias("min_value"),
    )


@query(
    "source_mixture_weights",
    oracle="""
    WITH per AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_docs) AS n, COUNT(*) AS k FROM per),
    w AS (
        SELECT source, n_docs,
               (1.0 / tot.k) / (CAST(n_docs AS DOUBLE) / tot.n) AS up
        FROM per, tot
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           ROUND(up / (SELECT MAX(up) FROM w), 4) AS keep_prob,
           CAST(FLOOR(n_docs * up / (SELECT MAX(up) FROM w)) AS BIGINT)
               AS expected_kept
    FROM w
    ORDER BY source
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing weights (the static core of
    DoReMi-style source reweighting): given a UNIFORM target mixture
    across sources, compute each source's upweight factor
    target_share / actual_share, normalize so the most
    under-represented source keeps everything (keep_prob = 1), and
    report the expected post-subsampling count. Downstream the
    keep_prob feeds `deterministic_sample` per source — membership by
    identity hash, so the realized mixture is reproducible.

    Scale shape: one groupBy(source) — source-cardinality rows — then
    pure arithmetic over that tiny relation (broadcast scalar for the
    max); the corpus is scanned once and never re-shuffled."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = per.agg(
        F.sum("n_docs").alias("n"), F.count("*").alias("k")
    )
    w = per.join(F.broadcast(tot)).select(  # bcast bound: 1-row scalar
        "source", "n_docs",
        ((1.0 / F.col("k"))
         / (F.col("n_docs").cast("double") / F.col("n"))).alias("up"),
    )
    mx = w.agg(F.max("up").alias("mx"))
    return (
        w.join(F.broadcast(mx))  # bcast bound: 1-row scalar
        .select(
            "source", "n_docs",
            F.round(F.col("up") / F.col("mx"), 4).alias("keep_prob"),
            F.floor(F.col("n_docs") * F.col("up") / F.col("mx"))
            .cast("long").alias("expected_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# leakage-free dataset split (cluster-aware train/val/test)
# ---------------------------------------------------------------------------

def _leakage_free_split_oracle() -> str:
    # exact connected components (the same fixpoint cluster_pairs'
    # union-find computes), then split by hash OF THE CLUSTER
    # REPRESENTATIVE (split_by_hash arithmetic: 'sample:'-salted
    # hash31 into 10000 buckets, train <9000, val <9500, else test)
    h = _H31.format(x="concat('sample:', CAST(rep AS VARCHAR))")
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    {_EXACT_CC_SQL},
    corpus AS ({CORPUS_SQL}),
    reps AS (
        SELECT c.doc_id, COALESCE(conn.lbl, c.doc_id) AS rep
        FROM corpus c LEFT JOIN conn ON conn.id = c.doc_id
    ),
    assigned AS (
        SELECT doc_id, rep,
               CASE WHEN {h} % 10000 < 9000 THEN 'train'
                    WHEN {h} % 10000 < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM reps
    ),
    leaky AS (
        SELECT COUNT(*) AS n FROM (
            SELECT rep FROM assigned
            GROUP BY rep HAVING COUNT(DISTINCT split) > 1
        ) v
    )
    SELECT split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT rep) AS n_clusters,
           (SELECT CAST(n AS BIGINT) FROM leaky) AS n_leaky_clusters
    FROM assigned
    GROUP BY split
    ORDER BY split
    """


@query("leakage_free_split", bench=True, oracle=_leakage_free_split_oracle())
def leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split — the leakage guard every
    dedup-aware training pipeline needs: a naive per-document hash
    split puts near-duplicate documents on BOTH sides of the
    train/eval boundary (eval contamination); here the split key is
    the near-dup CLUSTER representative, so a whole cluster moves as
    one unit. Composition: MinHash-LSH pairs → min-label clusters
    (operators/dedup.cluster_pairs) → representative = cluster label
    (own id for singletons) → split_by_hash on the representative.
    Output pins per-split doc and cluster counts AND the
    leaky-cluster count, which both engines must agree is ZERO — the
    invariant itself is differentially proven.

    100 TB shape: the label relation is pair-bounded (dup-fraction-
    sized), the left join is id-keyed, and the split is a pure hash
    of one column — no shuffle beyond the cluster step the pipeline
    already ran."""
    from ..operators.sampling import split_by_hash

    c = corpus(spark, sf_dir)
    pairs = D.minhash_lsh_dedup_pairs(c, threshold=0.5)
    labels = D.cluster_pairs(pairs, iterations=2)
    reps = c.select("doc_id").join(
        labels.withColumnsRenamed({"id": "doc_id"}), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("rep"),
    )
    assigned = split_by_hash(
        reps, "rep", {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    leaky = (
        assigned.groupBy("rep")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count("*").alias("n_leaky_clusters"))
    )
    out = (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("rep").alias("n_clusters"),
        )
        .join(F.broadcast(leaky))  # bcast bound: 1-row invariant aggregate
        .orderBy("split")
    )
    return D.pin(out, labels)


# ---------------------------------------------------------------------------
# filtered vector search (metadata predicate + ANN)
# ---------------------------------------------------------------------------

@query(
    "filtered_ann_topk",
    bench=True,
    oracle="""
    WITH ok AS (
        SELECT doc_id FROM documents
        WHERE n_chars >= 200 AND lang = 'en'
    ),
    e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
        WHERE vec_id IN (SELECT doc_id FROM ok)
    ),
    q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id = 0
    )
    SELECT vec_id,
           ROUND(list_dot_product(v, qv) /
                 (sqrt(list_dot_product(v, v))
                  * sqrt(list_dot_product(qv, qv))),
                 6) AS cos_sim
    FROM e, q
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def filtered_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — the retrieval pattern every production
    vector store needs (pre-filter, not post-filter): a metadata
    predicate over `documents` (length + language) gates WHICH vectors
    are searchable, then exact cosine top-k runs over only the
    survivors. Pre-filtering via LEFT SEMI join on the shared id
    keyspace guarantees k results from the eligible set; post-filtering
    a top-k would under-deliver whenever high-scoring vectors fail the
    predicate.

    Scale shape: the predicate pushes into the documents scan
    (n_chars/lang are plain columns), the semi-join keys on 8-byte
    ids, the query vector broadcasts, and the scored scan ends in
    TakeOrderedAndProject — same plan family as
    similarity_topk_bruteforce with one id-keyed semi-join ahead of
    it. At 100 TB the eligible-id relation is the predicate's
    selectivity times the corpus, and an IVF/LSH index over only
    eligible vectors (partition-pruned layout) replaces the full
    scan, same as the unfiltered path."""
    e = _filtered_eligible(spark, sf_dir)
    q = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") == 0
    )
    return S.topk_bruteforce(e, q, k=10)


def _filtered_eligible(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings gated by the shared metadata predicate (length +
    language over `documents`), via LEFT SEMI join on the id keyspace
    — the pre-filter every filtered-search variant starts from. The
    gate itself is plans/storage.eligible_embeddings, the SAME
    implementation the persisted index build uses (one predicate)."""
    from .storage import eligible_embeddings

    return eligible_embeddings(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


# the eligibility gate's replay: the documents predicate, then the
# vectors it admits (plans/storage.eligible_embeddings)
_OK_CTE = """ok AS (
        SELECT doc_id FROM documents
        WHERE n_chars >= 200 AND lang = 'en'
    ),
    """
_ELIGIBLE_SQL = """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
        WHERE vec_id IN (SELECT doc_id FROM ok)"""
_FILTERED_E_SQL = f"""
    {_OK_CTE}e AS (
        {_ELIGIBLE_SQL}
    )"""

_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)
_N_CELLS = 8  # coarse cells of every persisted cell-layout index
_NPROBE = 2  # cells each of its probes scans


def _cents_cte(src: str = "e", coarse_iters: int = 0, seed: str = "") -> str:
    """The coarse centroids as a `cents (cid, cvec)` CTE: the `_N_CELLS`
    lowest ids of `src` (narrowed by the `seed` SQL suffix), or the
    Lloyd-trained chain when `coarse_iters` > 0."""
    if coarse_iters > 0:
        return _trained_cents_ctes(coarse_iters, _N_CELLS, src)
    return f"""cents AS (SELECT vec_id AS cid, v AS cvec FROM {src}{seed}
              ORDER BY vec_id LIMIT {_N_CELLS})"""


def _coarse_ctes(src: str = "e", coarse_iters: int = 0, seed: str = "") -> str:
    """The coarse quantizer's replay over `src`: the centroids
    (_cents_cte) and each vector's argmax-cosine cell (ties to the
    smaller cid — ivf_assign's rule) as `assign (vec_id, cid)`."""
    return f"""{_cents_cte(src, coarse_iters, seed)},
    cscored AS (
        SELECT {src}.vec_id, c.cid,
               {_COS.format(a=f'{src}.v', b='c.cvec')} AS score
        FROM {src} CROSS JOIN cents c),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY score DESC, cid) AS rn
            FROM cscored) t
        WHERE rn = 1)"""


def _qcells(q: str, batch: bool) -> str:
    """The query CTE `q`'s `_NPROBE` best cells; per qid when `batch`."""
    rank = _COS.format(a=f"{q}.qv", b="c.cvec")
    if not batch:
        return f"""qcells AS (
        SELECT c.cid FROM cents c, {q}
        ORDER BY {rank} DESC, c.cid
        LIMIT {_NPROBE})"""
    return f"""qcells AS (
        SELECT qid, cid FROM (
            SELECT {q}.qid, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY {q}.qid
                       ORDER BY {rank} DESC,
                                c.cid) AS rn
            FROM cents c, {q}) t
        WHERE rn <= {_NPROBE})"""


def _qs_cells() -> str:
    """Each batch query's `_NPROBE` best cells, from a `qs (qid, qv)` CTE."""
    return f"""qcells AS (
        SELECT qid, cid FROM (
            SELECT qs.qid, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY qs.qid
                       ORDER BY {_COS.format(a='qs.qv', b='c.cvec')} DESC,
                                c.cid) AS rn
            FROM qs CROSS JOIN cents c) t
        WHERE rn <= {_NPROBE})"""


def _ranked(col: str, order: str, src: str, k: int) -> str:
    """The per-qid top-`k` of `src` with every row's rank."""
    return f"""SELECT qid, vec_id, {col}, CAST(rank AS INT) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY {order}, vec_id) AS rank
        FROM {src}) s
    WHERE rank <= {k}
    ORDER BY qid, rank"""


def _filtered_ivf_oracle(
    limit: int,
    cents_where: str = "",
    coarse_iters: int = 0,
    batch_k: int | None = None,
    q_where: str = "",
) -> str:
    """IVF replay over ONLY the eligible vectors: centroids are the 8
    lowest-id ELIGIBLE vectors (the index is built on the filtered
    set), assignment/probe/score identical to _IVF_ORACLE.
    `cents_where` narrows the centroid SEED set only (the append-probe
    query seeds from the original build's subset while assignment runs
    over everything — exactly what an appended index serves).
    `coarse_iters` swaps in the Lloyd-trained centroid chain.
    `batch_k` switches to the batch serving replay: `q_where` picks
    the (qid, qv) query rows, each qid ranks its own `_NPROBE` cells,
    and the output is the per-qid cosine top-`batch_k` with ranks."""
    if coarse_iters and cents_where:
        raise ValueError(
            "_filtered_ivf_oracle: coarse_iters does not compose with "
            "cents_where yet — the append replay would silently "
            "retrain on the appended corpus"
        )
    cents_cte = _cents_cte("e", coarse_iters, f" {cents_where}")
    if batch_k is not None:
        return f"""
    WITH {_FILTERED_E_SQL},
    {cents_cte},
    cscored AS (
        SELECT e.vec_id, e.v, c.cid,
               {_COS.format(a='e.v', b='c.cvec')} AS score
        FROM e CROSS JOIN cents c),
    assign AS (
        SELECT vec_id, v, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY score DESC, cid) AS rn
            FROM cscored) t
        WHERE rn = 1),
    qs AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE {q_where}),
    {_qs_cells()},
    res AS (
        SELECT q.qid, a.vec_id,
               ROUND({_COS.format(a='a.v', b='q.qv')}, 6) AS cos_sim
        FROM assign a
        JOIN qcells qc ON a.cid = qc.cid
        JOIN qs q ON q.qid = qc.qid)
    {_ranked("cos_sim", "cos_sim DESC", "res", batch_k)}
    """
    return f"""
    WITH {_FILTERED_E_SQL},
    {cents_cte},
    scored AS (
        SELECT e.vec_id, e.v, c.cid,
               list_dot_product(e.v, c.cvec) /
               (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS score
        FROM e CROSS JOIN cents c),
    assign AS (
        SELECT vec_id, v, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY score DESC, cid) AS rn
            FROM scored) t
        WHERE rn = 1),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id = 0),
    qcells AS (
        SELECT c.cid FROM cents c, q
        ORDER BY list_dot_product(qv, c.cvec) /
                 (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.cvec, c.cvec)))
                 DESC, c.cid
        LIMIT {_NPROBE})
    SELECT a.vec_id,
           ROUND(list_dot_product(a.v, qv) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qv, qv))),
                 6) AS cos_sim
    FROM assign a, q
    WHERE a.cid IN (SELECT cid FROM qcells)
    ORDER BY cos_sim DESC, a.vec_id
    LIMIT {limit}
    """


@query("filtered_ann_ivf", oracle=_filtered_ivf_oracle(10), bench=True)
def filtered_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN at INDEX scale — the composition filtered_ann_topk's
    docstring promises: the IVF index is built over ONLY the eligible
    vectors (deterministic seed centroids drawn from the filtered set),
    so probes touch eligible cells and nothing else. At 100 TB the
    assigned+filtered table is written partitioned by cell and each
    probe is a partition-pruned scan of eligible data — the pre-filter
    pays once at index build, not per query; contrast with filtering
    AFTER an unfiltered index probe, which under-delivers k whenever a
    cell is dominated by ineligible vectors. Exactness caveat is the
    usual IVF one (nprobe cells), which filtered_ann_recall
    quantifies."""
    e = _filtered_eligible(spark, sf_dir)
    q = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") == 0
    )
    return S.ivf_topk(e, q, k=10, nprobe=2, n_cells=8)


def _filtered_recall_oracle() -> str:
    exact10 = f"""
    WITH {_FILTERED_E_SQL},
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id = 0)
    SELECT vec_id FROM (
        SELECT vec_id,
               list_dot_product(v, qv) /
               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS s
        FROM e, q ORDER BY s DESC, vec_id LIMIT 10)
    """
    return f"""
    SELECT 'ivf_filtered' AS method, CAST(10 AS BIGINT) AS k,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM ({_filtered_ivf_oracle(10)}) s
            WHERE s.vec_id IN (SELECT vec_id FROM ({exact10}) b)) AS hits,
           ROUND((SELECT CAST(COUNT(*) AS BIGINT)
            FROM ({_filtered_ivf_oracle(10)}) s2
            WHERE s2.vec_id IN (SELECT vec_id FROM ({exact10}) b2))
            * 1.0 / 10, 6) AS recall
    """


@query("filtered_ann_recall", oracle=_filtered_recall_oracle(), bench=True)
def filtered_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the filtered IVF index against the exact filtered
    top-10 (filtered_ann_topk) — the filtered analog of
    similarity_ann_recall, and the metric that decides nprobe/n_cells
    for a filtered index before it ships. Both sides draw from the
    SAME eligible set, so the number isolates the index's approximation
    error from the filter itself; both result sets are k-sized, so the
    intersection join is trivially broadcast."""
    e = _filtered_eligible(spark, sf_dir)
    q = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") == 0
    )
    exact = S.topk_bruteforce(e, q, k=10)
    approx = S.ivf_topk(e, q, k=10, nprobe=2, n_cells=8)
    return _recall_result(approx, exact, "ivf_filtered", k=10)


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup inside coarse-quantizer cells
# ---------------------------------------------------------------------------

# The fixture embeddings are random synthetic vectors with no semantic
# duplicates (within-cell pair cosine tops out ~0.49), so — exactly like
# CORPUS_SQL plants text variants — the semantic-dedup corpus plants a
# perturbed re-embedding (first component +0.25, id +1,000,000) for every
# fifth vector: planted pairs land at cosine 0.968–0.976, a wide margin
# from both the tau=0.9 gate and the natural distribution, so the
# threshold can never sit on an engine-rounding boundary.
EVEC_SQL = """
SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
UNION ALL
SELECT vec_id + 1000000 AS vec_id,
       list_transform(CAST(embedding AS DOUBLE[]),
                      (x, i) -> CASE WHEN i = 1 THEN x + 0.25 ELSE x END) AS v
FROM embeddings WHERE vec_id % 5 = 0
"""


def evec_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of EVEC_SQL (DuckDB list_transform indexes from 1,
    Spark from 0 — both expressions perturb the FIRST component)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", S.as_double("embedding").alias("embedding")
    )
    planted = e.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x + 0.25).otherwise(x),
        ).alias("embedding"),
    )
    return e.unionByName(planted)


def _semdedup_oracle(
    tau: float,
    pre_ctes: str = "",
    e_sql: str = EVEC_SQL,
    coarse_iters: int = 0,
) -> str:
    """SemDeDup replay generator — ONE statement of the prune-replay
    arithmetic (assignment, ccos, dominance rule, per-cell checksum)
    shared by the in-memory and persisted-layout differentials (one
    generator, not restated string literals that can drift).
    `coarse_iters` swaps in the Lloyd-trained centroid chain — the persisted
    form's fixture is the trained-by-default filtered-IVF layout."""
    cents_cte = (
        _trained_cents_ctes(coarse_iters, 8)
        if coarse_iters > 0
        else "cents AS (SELECT vec_id AS cid, v AS cvec FROM e"
             " ORDER BY vec_id LIMIT 8)"
    )
    return f"""
    WITH {pre_ctes}e AS ({e_sql}),
    {cents_cte},
    scored AS (
        SELECT e.vec_id, e.v, c.cid,
               {_COS.format(a='e.v', b='c.cvec')} AS score
        FROM e CROSS JOIN cents c),
    assign AS (
        SELECT vec_id, v, cid, score AS ccos FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY score DESC, cid) AS rn
            FROM scored) t
        WHERE rn = 1),
    close AS (
        SELECT a.vec_id AS id_a, a.ccos AS ccos_a,
               b.vec_id AS id_b, b.ccos AS ccos_b
        FROM assign a JOIN assign b
          ON a.cid = b.cid AND a.vec_id <> b.vec_id
        WHERE {_COS.format(a='a.v', b='b.v')} > {tau}),
    pruned AS (
        SELECT DISTINCT id_a AS vec_id FROM close
        WHERE ccos_b < ccos_a OR (ccos_b = ccos_a AND id_b < id_a))
    SELECT a.cid AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pruned,
           CAST(COALESCE(SUM(CASE WHEN p.vec_id IS NOT NULL
                                  THEN a.vec_id % 99991 END), 0)
                AS BIGINT) AS pruned_checksum
    FROM assign a LEFT JOIN pruned p ON p.vec_id = a.vec_id
    GROUP BY a.cid ORDER BY cell
    """


def _trained_cents_ctes(iters: int, n_cells: int, src: str = "e") -> str:
    """CTE chain replaying operators/similarity.ivf_centroids_trained
    over the `src` relation (a (vec_id, v) CTE; `e` by default, `e0`
    inside the residual IVF-PQ replay where `e` is the residual encode
    relation) — the COARSE twin of _trained_cb_ctes: seeded from
    the lowest-id centroids, each iteration assigning every vector by
    argmax cosine (ties to the smaller cid — ivf_assign's rule, the
    same expression the untrained assignment uses), recomputing each
    cell as ROUND(AVG, 6) per dimension (the cross-engine-exactness
    quantization — see the operator docstring), empty cells keeping
    their previous centroid. Ends in a `cents AS (cid, cvec)` CTE, so
    every downstream assignment / cell-ranking expression is reused
    verbatim over the trained centroids."""
    chain = [
        f"""kc0 AS (SELECT vec_id AS cid, v AS cvec FROM {src}
               ORDER BY vec_id LIMIT {n_cells})"""
    ]
    for t in range(1, iters + 1):
        p = t - 1
        chain += [
            f"""kd{t} AS (
        SELECT {src}.vec_id, {src}.v, c.cid,
               {_COS.format(a=f'{src}.v', b='c.cvec')} AS score
        FROM {src} CROSS JOIN kc{p} c)""",
            f"""ka{t} AS (
        SELECT vec_id, v, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY score DESC, cid) AS rn
            FROM kd{t}) z WHERE rn = 1)""",
            f"""km{t} AS (
        SELECT cid, gs.pos, ROUND(AVG(v[gs.pos]), 6) AS mm
        FROM ka{t}, generate_series(1, {S.DIM}) gs(pos)
        GROUP BY cid, gs.pos)""",
            f"""kn{t} AS (
        SELECT cid, list(mm ORDER BY pos) AS nv FROM km{t}
        GROUP BY cid)""",
            f"""kc{t} AS (
        SELECT c.cid, COALESCE(n.nv, c.cvec) AS cvec
        FROM kc{p} c LEFT JOIN kn{t} n ON c.cid = n.cid)""",
        ]
    chain.append(f"cents AS (SELECT cid, cvec FROM kc{iters})")
    return ",\n    ".join(chain)


# training-regime knobs, shared by the gauges AND the serving-path
# fixtures themselves: production ships
# trained quantizers, so the registry probes and the bench time the
# trained configuration and the seed-only builds remain as explicit
# comparison fixtures
_TRAINED_ITERS = 2
_TRAINED_Q = 8  # batch-recall query count (denoises the 1/k steps)

# coarse-training gauge geometry: Q=16 query ids STARTING AT 100
# — disjoint from the centroid seed ids (the n_cells lowest), because a
# seed-id query's own cell always ranks first at cosine 1.0, biasing
# the seed figure upward (measured at sf0.01: with qids < Q the seed
# index read 0.925 and training "hurt"; with disjoint qids the same
# sweep reads seed 0.4375 vs trained 0.5000 at this geometry)
_CTR_ITERS = 2
_CTR_Q = 16


def _semdedup_cell_agg(flags: DataFrame) -> DataFrame:
    """The per-cell output contract (member count, pruned count,
    pruned-id checksum) — one definition for both SemDeDup queries so
    a single wrong prune decision hash-mismatches identically in
    either form."""
    return (
        flags.groupBy("cell")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.col("is_pruned").cast("long")).alias("n_pruned"),
            F.coalesce(
                F.sum(F.when(F.col("is_pruned"), F.col("vec_id") % 99991)),
                F.lit(0),
            ).alias("pruned_checksum"),
        )
        .orderBy("cell")
    )


_SEMDEDUP_ORACLE = _semdedup_oracle(tau=0.9)


@query("semdedup_prune", oracle=_SEMDEDUP_ORACLE, bench=True)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.semdedup_prune) over the planted
    semantic-dup corpus: IVF cells (deterministic lowest-8-id seed
    centroids), within-cell cosine > 0.9 pairs, prune the pair member
    nearer its centroid (SemDeDup keeps the outlier; ties to the lower
    id — a total order, so the kept set is unique and the oracle
    replays every prune decision). Reported per cell: member count,
    pruned count, and a membership checksum over the pruned ids so a
    single wrong prune decision hash-mismatches.

    Scale: the only corpus-wide ops are one broadcast-assign projection
    and one equi-join on cell; pair blow-up is bounded by cell size
    (n_cells grows ~sqrt(N) at 100 TB). Norms hoisted per side."""
    e = evec_corpus(spark, sf_dir)
    flags = S.semdedup_prune(e, tau=0.9, n_cells=8)
    # the operator's assignment cache is finalizer-tied to `flags`
    return D.pin(_semdedup_cell_agg(flags), flags)


_SEMDEDUP_PERSISTED_ORACLE = _semdedup_oracle(
    tau=0.2, pre_ctes=_OK_CTE, e_sql=_ELIGIBLE_SQL, coarse_iters=_CTR_ITERS,
)


@query("semdedup_persisted", oracle=_SEMDEDUP_PERSISTED_ORACLE)
def semdedup_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup served from the PERSISTED filtered-IVF layout
    (plans/storage.semdedup_prune_persisted): centroids AND cell
    assignments are READ from the committed index; the prune proceeds
    cell-partition-by-cell-partition (the self-join on `cell` aligns
    with the `cell=` directory partitioning), and ccos is recomputed
    from the stored centroid row with the shared hoisted-norm
    arithmetic (operators/similarity.centroid_score). tau=0.2: the
    eligible fixture vectors carry no planted semantic dups, so a
    0.9 gate would fire zero prunes and the differential would be
    vacuous — at 0.2 both branches fire at every SF with no pair
    cosine near the gate (the natural distribution tops out ~0.49 and
    the oracle replays exact doubles either way). Same per-cell
    contract as semdedup_prune: member count, pruned count, pruned-id
    checksum — one wrong prune decision hash-mismatches. The index is
    the ivf_index_probe scenario's build (_FIVF)."""
    from .storage import semdedup_prune_persisted

    flags = semdedup_prune_persisted(
        spark, _index(spark, sf_dir, _FIVF), tau=0.2, expect=_expect(_FIVF)
    )
    return D.pin(_semdedup_cell_agg(flags), flags)


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------

# The batch also carries genuinely NOVEL documents (every word suffixed
# with '~q' — no shingle or sha can match the corpus; '~' is outside the
# vocabulary alphabet), so all three statuses fire: exact (verbatim
# plants), near (drop-first-word plants), unique (novel).
_NOVEL_SQL = """
SELECT doc_id + 3000000 AS doc_id,
       array_to_string(list_transform(string_split(text, ' '),
                                      w -> w || '~q'), ' ') AS text
FROM documents WHERE doc_id % 10 = 5
"""

_ALLC_SHINGLES_SQL = f"""
allc AS (
    {CORPUS_SQL}
    UNION ALL
    {_NOVEL_SQL}
),
sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               UNNEST(list_transform(generate_series(1, len(w) - 2),
                      i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM allc) t
        WHERE len(w) >= 3
    ) u
)
"""


def _incremental_oracle(old_pred: str = "{d} < 1000000") -> str:
    """`old_pred` narrows the OLD side everywhere it appears —
    the band-candidate a-side, the shared-shingle verify, and the
    exact-dup sha set — formatted with the doc-id expression, so the
    deletion gate's oracle replays a tombstoned old corpus with one
    parameter instead of a restated query."""
    h = _H31.format(x="shingle")
    mins = ",\n           ".join(
        f"MIN(({2 * i + 1} * h + {i * 7919 + 1}) % 2147483647) AS mh{i}"
        for i in range(D.NUM_PERM)
    )
    band_keys = []
    for j in range(D.BANDS):
        cols = [f"mh{j * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND)]
        key = "concat_ws('_', " + ", ".join(
            f"CAST({c} AS STRING)" for c in cols
        ) + ")"
        band_keys.append(
            f"SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM "
            f"(SELECT doc_id, {key} AS bk FROM mh "
            f"WHERE {old_pred.format(d='doc_id')}) a "
            f"JOIN (SELECT doc_id, {key} AS bk FROM mh "
            f"WHERE doc_id >= 1000000) b ON a.bk = b.bk"
        )
    cands = "\n        UNION\n        ".join(band_keys)
    old_pred_a = old_pred.format(d="a.doc_id")
    old_pred_plain = old_pred.format(d="doc_id")
    return f"""
    WITH {_ALLC_SHINGLES_SQL},
    h AS (SELECT doc_id, {h} AS h FROM sh),
    mh AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
    cands AS (
        {cands}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle
         AND {old_pred_a} AND b.doc_id >= 1000000
        WHERE (a.doc_id, b.doc_id) IN (SELECT (id_a, id_b) FROM cands)
        GROUP BY a.doc_id, b.doc_id
    ),
    near AS (
        SELECT DISTINCT id_b AS doc_id FROM shared
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
        WHERE ROUND(shared * 1.0 / (sa.n_sh + sb.n_sh - shared), 6) >= 0.5
    ),
    newdocs AS (SELECT doc_id, text FROM allc WHERE doc_id >= 1000000),
    oldsha AS (SELECT DISTINCT sha256(text) AS sha FROM allc
               WHERE {old_pred_plain}),
    exact AS (
        SELECT DISTINCT n.doc_id FROM newdocs n
        JOIN oldsha o ON sha256(n.text) = o.sha
    ),
    st AS (
        SELECT d.doc_id,
               CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
                    WHEN nr.doc_id IS NOT NULL THEN 'near'
                    ELSE 'unique' END AS status
        FROM newdocs d
          LEFT JOIN exact e ON e.doc_id = d.doc_id
          LEFT JOIN near nr ON nr.doc_id = d.doc_id
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id % 99991) AS BIGINT) AS id_checksum
    FROM st GROUP BY status ORDER BY status
    """


def _incremental_split(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(old, new) corpus split shared by both incremental-dedup
    queries: originals (id < 1e6) are "already ingested"; the planted
    variants (id >= 1e6) plus genuinely novel docs (every word '~q'-
    suffixed, ids +3e6) are "today's crawl"."""
    # spread=False, and NO per-leg spread either: a repartition below the id filters blocked pushdown and
    # shuffled the whole corpus once per leg (+0.8 s), and the
    # post-filter per-leg variant ALSO lost its interleaved A/B
    # (indexed min 3.11 vs 2.58 s, newbatch 3.57 vs 3.31) — the
    # incremental pipeline persists its shingle relations, so the
    # spread exchange is paid on the cache fill while the banding/
    # verify stages that dominate already shuffle on their own keys
    c = corpus(spark, sf_dir, spread=False)
    novel = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 5)
        .select(
            (F.col("doc_id") + 3000000).alias("doc_id"),
            F.array_join(
                F.transform(
                    F.split("text", " "), lambda w: F.concat(w, F.lit("~q"))
                ),
                " ",
            ).alias("text"),
        )
    )
    old = c.filter(F.col("doc_id") < 1000000)
    new = c.filter(F.col("doc_id") >= 1000000).unionByName(novel)
    return old, new


def _incremental_status(
    old_sha: DataFrame, new: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Per-status (exact beats near beats unique) count + id checksum
    over the new batch, given the near-dup pair relation — the shared
    tail of both incremental-dedup queries. Gate 1 (exact) is a
    sha2-256 LEFT SEMI against `old_sha`, the corpus's hash relation
    (the recompute query derives it from old text WITHOUT a distinct —
    the semi join dedupes by construction; the indexed query reads the
    stored distinct set from the persisted band index — 64-byte keys
    on the exchange either way)."""
    exact_ids = (
        new.select("doc_id", F.sha2("text", 256).alias("_sha"))
        .join(old_sha, "_sha", "left_semi")
        .select("doc_id")
        .withColumn("_ex", F.lit(True))
    )
    near_ids = (
        pairs.select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("_nr", F.lit(True))
    )
    return (
        new.select("doc_id")
        .join(exact_ids, "doc_id", "left")
        .join(near_ids, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_ex"), F.lit("exact"))
            .when(F.col("_nr"), F.lit("near"))
            .otherwise(F.lit("unique"))
            .alias("status"),
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("doc_id") % 99991).alias("id_checksum"),
        )
        .orderBy("status")
    )


@query("incremental_dedup_newbatch", oracle=_incremental_oracle(), bench=True)
def incremental_dedup_newbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a newly arrived batch against the existing
    corpus — the shape an ongoing-crawl pipeline runs per increment
    (full-corpus re-dedup per day is the anti-pattern at 100 TB).
    Gate 2: near — operators/dedup.incremental_neardup_pairs, an
    old x new band-key join (work scales with the BATCH; this form
    recomputes the old side's bands cold — `incremental_dedup_indexed`
    is the same query served from the persisted band index). Each new
    doc reports one status — exact beats near beats unique — with
    per-status count + id checksum so a single misclassification
    hash-mismatches."""
    old, new = _incremental_split(spark, sf_dir)
    # spread the OLD leg (scale-adaptive): this form re-shingles,
    # re-minhashes and re-hashes the whole old corpus cold, and the
    # fixture scan is one split, so all that map work ran on one task.
    # An earlier A/B rejected this spread, but the 3-distinct-drop
    # rebalanced it: interleaved A/B at sf0.1, 7/7 alternations faster
    # (med 2.93 vs 3.54 s, min 2.70 vs 3.38). The NEW leg stays
    # unspread (spreading it measured net-flat-to-worse: batch map
    # work is a quarter of the old side's).
    old = _spread_small_scan(spark, sf_dir, old)
    pairs = D.incremental_neardup_pairs(old, new, threshold=0.5)
    # no distinct: the exact gate consumes this via LEFT SEMI,
    # which dedupes by construction — the distinct was a corpus-wide
    # shuffle+agg on 64-byte keys paid for nothing (part of the
    # 3-distinct-drop A/B recorded in dedup._incremental_pairs)
    old_sha = old.select(F.sha2("text", 256).alias("_sha"))
    out = _incremental_status(old_sha, new, pairs)
    # the pair op's caches are finalizer-tied to `pairs`; keep them
    # alive for the composed plan (see dedup_cluster_sizes)
    return D.pin(out, pairs)


# process-lifetime persisted-index directories, keyed (kind, sf_dir)
# where `kind` is a scenario's `_Build` spec or a name: an index is
# built ONCE per corpus version and probed per query / increment —
# this cache is that amortization, in-process. Bench consequence
# (deliberate, documented bench policy exception): the warm-up run
# pays the build; the timed runs measure the PROBE, which is the
# per-increment production cost.
_PERSISTED_INDEX_DIRS: dict[tuple, str] = {}


def _persisted_index(kind, sf_dir: str, build) -> str:
    import atexit
    import shutil
    import tempfile

    key = (kind, sf_dir)
    if key not in _PERSISTED_INDEX_DIRS:
        path = tempfile.mkdtemp(
            prefix=f"g2cs_{getattr(kind, 'layout', kind)}_"
        )
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        build(path)  # key set only on success: a failed build retries
        _PERSISTED_INDEX_DIRS[key] = path
    return _PERSISTED_INDEX_DIRS[key]


# ---------------------------------------------------------------------------
# product quantization ADC
# ---------------------------------------------------------------------------

_L2_SQL = (
    "list_sum(list_transform(generate_series(1, {dim}), i -> "
    "({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)


def _cb_seed(name: str, cb_src: str) -> str:
    """The seed codebook: the PQ_K lowest-id vectors of `cb_src`."""
    return f"""{name} AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS entry, v
        FROM (SELECT * FROM {cb_src} ORDER BY vec_id LIMIT {S.PQ_K}) s
    )"""


def _trained_cb_ctes(iters: int, cb_src: str = "e") -> str:
    """CTE chain replaying operators/similarity.pq_codebook_trained:
    per-block Lloyd over the `e` CTE's subvectors, seeded from the
    `cb_src` lowest-id prefix, means ROUND(AVG, 6) per dimension (the
    quantization that makes the replay exact by construction — see the
    operator docstring), empty entries keeping their previous
    subvector. Ends in a `cb AS (entry, v)` CTE whose 64-dim `v` is
    the per-block trained entries CONCATENATED — slicing it at block
    offsets recovers exactly block j's trained entry, so every
    downstream _pq_oracle expression (encode/LUT/ADC) is reused
    verbatim."""
    m, sub = S.PQ_M, S.PQ_SUB
    ctes = [
        _cb_seed("cbseed", cb_src),
        f"""subs AS (
        SELECT e.vec_id, gb.b AS blk,
               list_transform(generate_series(1, {sub}),
                              i -> e.v[gb.b*{sub} + i]) AS sv
        FROM e, generate_series(0, {m - 1}) gb(b)
    )""",
        f"""tc0 AS (
        SELECT gb.b AS blk, entry,
               list_transform(generate_series(1, {sub}),
                              i -> v[gb.b*{sub} + i]) AS ev
        FROM cbseed, generate_series(0, {m - 1}) gb(b)
    )""",
    ]
    for t in range(1, iters + 1):
        p = t - 1
        ctes += [
            f"""td{t} AS (
        SELECT s.vec_id, s.blk, s.sv, c.entry,
               list_sum(list_transform(generate_series(1, {sub}), i ->
                   (s.sv[i] - c.ev[i]) * (s.sv[i] - c.ev[i]))) AS dist
        FROM subs s JOIN tc{p} c ON s.blk = c.blk
    )""",
            f"""ta{t} AS (
        SELECT blk, sv, entry FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, blk
                                         ORDER BY dist, entry) AS rn
            FROM td{t}) z WHERE rn = 1
    )""",
            f"""tm{t} AS (
        SELECT blk, entry, gs.pos, ROUND(AVG(sv[gs.pos]), 6) AS mm
        FROM ta{t}, generate_series(1, {sub}) gs(pos)
        GROUP BY blk, entry, gs.pos
    )""",
            f"""tn{t} AS (
        SELECT blk, entry, list(mm ORDER BY pos) AS nev FROM tm{t}
        GROUP BY blk, entry
    )""",
            f"""tc{t} AS (
        SELECT c.blk, c.entry, COALESCE(n.nev, c.ev) AS ev
        FROM tc{p} c LEFT JOIN tn{t} n
          ON c.blk = n.blk AND c.entry = n.entry
    )""",
        ]
    ctes.append(
        f"""cb AS (
        SELECT entry, flatten(list(ev ORDER BY blk)) AS v
        FROM tc{iters} GROUP BY entry
    )"""
    )
    return ",\n    ".join(ctes)


def _pq_oracle(
    pre_ctes: str = "",
    e_sql: str = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings",
    post_ctes: str = "",
    from_extra: str = "",
    where: str = "",
    limit: int = 10,
    q_sql: str = "SELECT v AS qv FROM e WHERE vec_id = 0",
    cb_src: str = "e",
    batch_k: int | None = None,
    keyed_lut: bool = False,
    trained_iters: int = 0,
    rerank: int = 0,
    rerank_src: str = "e",
    rerank_q: str = "q",
) -> str:
    """PQ encode + ADC replay. Parameterized so the IVF-PQ composition
    reuses the SAME generated arithmetic over a different corpus CTE
    (`e_sql`), with extra CTEs (coarse cells) and a cell filter — one
    generator, zero restated L2/pack/LUT strings.
    `batch_k` switches to the BATCH serving shape: `q_sql` must then
    yield (qid, qv) rows, the LUT is built per qid, and the output is
    the per-query top-`batch_k` via ROW_NUMBER.
    `keyed_lut` keys the LUT by qid like batch mode but keeps the
    single GLOBAL top-`limit` output — the residual-IVFADC replay,
    where `q_sql` yields one (qid=cell, qv=query residual) row per
    probed cell and the caller's `where` binds lutl.qid to each
    vector's assigned cell. With `batch_k` too, `q_sql` yields one
    (qid, cell, qv=residual) row per (query, probed cell), the LUT
    keys by both, and `where` binds lutl.cell to the assigned cell.
    `trained_iters` swaps the seed-only `cb` CTE for the Lloyd-trained
    chain (_trained_cb_ctes) — every downstream expression is reused
    verbatim over the trained entries. `rerank` replays the IVFADC+R
    tier (plans/storage._rerank_exact): the ADC output becomes a
    top-`rerank` candidate set, joined back by id to the RAW-vector
    CTE `rerank_src` and re-ordered by exact squared L2 against the
    raw query CTE `rerank_q` — output (vec_id, adist, dist), matching
    the probe's rerank contract."""
    if rerank and rerank < (batch_k if batch_k is not None else limit):
        raise ValueError(
            f"_pq_oracle: rerank={rerank} must be >= the requested k"
        )
    m, sub = S.PQ_M, S.PQ_SUB
    cb_cte = (
        _trained_cb_ctes(trained_iters, cb_src)
        if trained_iters > 0
        else _cb_seed("cb", cb_src)
    )

    def l2(av: str, bv: str, j: int) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {sub}), i -> "
            f"({av}[{j * sub} + i] - {bv}[{j * sub} + i])"
            f" * ({av}[{j * sub} + i] - {bv}[{j * sub} + i])))"
        )

    def cols(fmt) -> str:
        return ",\n           ".join(fmt(j) for j in range(m))

    packed = " + ".join(f"c_{j} * {1 << (4 * j)}" for j in range(m))
    adist = " + ".join(f"L_{j}[CAST(c_{j} AS INT) + 1]" for j in range(m))
    batch = batch_k is not None
    keyed, by_cell = batch or keyed_lut, batch and keyed_lut
    lut_key = "q.qid, " * keyed + "q.cell, " * by_cell
    lutl_key = "qid, " * keyed + "cell, " * by_cell
    lutl_grp = f" GROUP BY qid{', cell' * by_cell}" if keyed else ""
    l2_re = _L2_SQL.format(dim=S.DIM, a="re.v", b="rq.qv")
    if batch and rerank:
        final = f"""
    SELECT qid, vec_id, adist, dist, CAST(rank AS INT) AS rank FROM (
        SELECT a.qid, a.vec_id, a.adist,
               ROUND({l2_re}, 6) AS dist,
               ROW_NUMBER() OVER (PARTITION BY a.qid
                                  ORDER BY ROUND({l2_re}, 6), a.vec_id
                                 ) AS rank
        FROM (
            SELECT lutl.qid, enc.vec_id,
                   ROUND({adist}, 6) AS adist,
                   ROW_NUMBER() OVER (PARTITION BY lutl.qid
                                      ORDER BY ROUND({adist}, 6),
                                               enc.vec_id) AS rn
            FROM enc, lutl{from_extra}
            {where}
        ) a
        JOIN {rerank_src} re ON re.vec_id = a.vec_id
        JOIN {rerank_q} rq ON rq.qid = a.qid
        WHERE a.rn <= {rerank}
    ) t WHERE rank <= {batch_k}
    ORDER BY qid, rank"""
    elif batch:
        final = f"""
    SELECT qid, vec_id, pq_code, adist, CAST(rn AS INT) AS rank FROM (
        SELECT lutl.qid, enc.vec_id,
               CAST({packed} AS BIGINT) AS pq_code,
               ROUND({adist}, 6) AS adist,
               ROW_NUMBER() OVER (PARTITION BY lutl.qid
                                  ORDER BY ROUND({adist}, 6), enc.vec_id
                                 ) AS rn
        FROM enc, lutl{from_extra}
        {where}
    ) t WHERE rn <= {batch_k}
    ORDER BY qid, rank"""
    elif rerank:
        final = f""",
    adc_top AS (
        SELECT enc.vec_id,
               ROUND({adist}, 6) AS adist
        FROM enc, lutl{from_extra}
        {where}
        ORDER BY adist, enc.vec_id
        LIMIT {rerank}
    )
    SELECT a.vec_id, a.adist,
           ROUND({l2_re}, 6) AS dist
    FROM adc_top a
    JOIN {rerank_src} re ON re.vec_id = a.vec_id, {rerank_q} rq
    ORDER BY dist, a.vec_id
    LIMIT {limit}"""
    else:
        final = f"""
    SELECT enc.vec_id,
           CAST({packed} AS BIGINT) AS pq_code,
           ROUND({adist}, 6) AS adist
    FROM enc, lutl{from_extra}
    {where}
    ORDER BY adist, enc.vec_id
    LIMIT {limit}"""
    return f"""
    WITH {pre_ctes}e AS ({e_sql}),
    {cb_cte},
    dists AS (
        SELECT e.vec_id, cb.entry,
           {cols(lambda j: f"{l2('e.v', 'cb.v', j)} AS d_{j}")}
        FROM e, cb
    ),
    dl AS (
        SELECT vec_id,
           {cols(lambda j: f"list(d_{j} ORDER BY entry) AS dl_{j}")}
        FROM dists GROUP BY vec_id
    ),
    enc AS (
        SELECT vec_id,
           {cols(lambda j: f"CAST(list_position(dl_{j}, list_min(dl_{j})) - 1 AS BIGINT) AS c_{j}")}
        FROM dl
    ),
    q AS ({q_sql}),
    lut AS (
        SELECT {lut_key}cb.entry,
           {cols(lambda j: f"{l2('q.qv', 'cb.v', j)} AS l_{j}")}
        FROM cb, q
    ),
    lutl AS (
        SELECT {lutl_key}{cols(lambda j: f"list(l_{j} ORDER BY entry) AS L_{j}")} FROM lut{lutl_grp}
    ){post_ctes}{final}
    """


@query("pq_adc_topk", oracle=_pq_oracle())
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): 64-dim vectors
    compressed to 8 packed 4-bit codes (32x), query scored by
    asymmetric distance — one 8x16 lookup table built from the query,
    each database vector costing 8 table lookups on its packed code.
    The scan that matters at 100 TB reads ONLY the 8-byte code
    column; the codebook and LUT are 1-row broadcasts; the top-k is a
    TakeOrdered reduction. Codebook entries are deterministic (the 16
    lowest-id vectors' subvectors — the ivf_centroids pattern), so
    the oracle replays encode AND scoring: pq_code pins every 4-bit
    assignment of the returned rows bit-for-bit, adist the ADC
    arithmetic (operators/similarity.pq_codebook/pq_encode/
    pq_adc_topk)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    return S.pq_adc_topk(e, q, k=10)


def _ivfpq_oracle(
    limit: int = 10,
    seed_where: str = "",
    batch_k: int | None = None,
    residual: bool = False,
    trained_iters: int = 0,
    coarse_iters: int = 0,
    rerank: int = 0,
    q_where: str = "",
) -> str:
    """IVF-PQ replay: the PQ generator's arithmetic over the ELIGIBLE
    corpus, composed with the coarse-quantizer CTEs — assignment over
    eligible vectors, qcells ranking, and the cell filter on the final
    scan. Everything the persisted layout stores is re-derived.
    `seed_where` narrows BOTH quantizers' seed sets (centroids and
    codebook) to the original build's subset while assignment and
    encode run over everything — exactly what an appended index
    serves (the append-probe geometry). `batch_k` switches to the
    BATCH serving replay: per-qid cell ranking via ROW_NUMBER, per-qid
    LUTs, per-qid top-`batch_k` over the `q_where` queries.
    `residual` replays the IVFADC layout: the PQ arithmetic runs over
    RESIDUALS v − centroid(assigned cell) — the codebook from the
    lowest-id residuals, the LUT per probed cell from the QUERY'S
    residual against that cell's centroid (keyed_lut), the final join
    binding each vector's cell to its LUT row."""
    if seed_where and (residual or trained_iters or coarse_iters):
        # an appended index keeps the quantizers of its ORIGINAL build;
        # a residual or trained replay here would re-derive them over
        # the appended corpus and silently replay the wrong geometry
        raise ValueError(
            "_ivfpq_oracle: seed_where (the append geometry) does not "
            "compose with residual or trained quantizers"
        )
    batch = batch_k is not None
    if not residual:
        if batch:
            q_sql = (
                "SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv "
                f"FROM embeddings WHERE {q_where}"
            )
            bind = "qcells.qid = lutl.qid AND qcells.cid = assign.cid"
        else:
            q_sql = (
                "SELECT CAST(embedding AS DOUBLE[]) AS qv "
                "FROM embeddings WHERE vec_id = 0"
            )
            bind = "assign.cid IN (SELECT cid FROM qcells)"
        return _pq_oracle(
            pre_ctes=_OK_CTE,
            e_sql=_ELIGIBLE_SQL,
            post_ctes=(
                f",\n    {_coarse_ctes('e', coarse_iters, f' {seed_where}')},"
                f"\n    {_qcells('q', batch)}"
            ),
            from_extra=", assign, qcells" if batch else ", assign",
            where=f"WHERE assign.vec_id = enc.vec_id AND {bind}",
            limit=limit,
            q_sql=q_sql,
            cb_src=f"(SELECT * FROM e {seed_where})" if seed_where else "e",
            batch_k=batch_k,
            trained_iters=trained_iters,
            rerank=rerank,
        )
    dim = S.DIM
    if batch:
        q0 = f"""q0 AS (
        SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE {q_where}),"""
        q_sql = f"""SELECT q0.qid, c.cid AS cell,
               list_transform(generate_series(1, {dim}),
                              i -> q0.qv[i] - c.cvec[i]) AS qv
        FROM q0
        JOIN qcells ON qcells.qid = q0.qid
        JOIN cents c ON c.cid = qcells.cid"""
    else:
        q0 = """q0 AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id = 0),"""
        q_sql = f"""SELECT c.cid AS qid,
               list_transform(generate_series(1, {dim}),
                              i -> q0.qv[i] - c.cvec[i]) AS qv
        FROM cents c
        JOIN qcells ON qcells.cid = c.cid, q0"""
    # the raw vectors live in e0 and the raw query in q0 — `e` here is
    # the RESIDUAL relation, so the exact re-rank tier reaches past it
    return _pq_oracle(
        pre_ctes=f"""{_OK_CTE}e0 AS (
        {_ELIGIBLE_SQL}
    ),
    {_coarse_ctes("e0", coarse_iters)},
    {q0}
    {_qcells("q0", batch)},
    """,
        e_sql=f"""SELECT e0.vec_id,
               list_transform(generate_series(1, {dim}),
                              i -> e0.v[i] - c.cvec[i]) AS v
        FROM e0
        JOIN assign a ON a.vec_id = e0.vec_id
        JOIN cents c ON c.cid = a.cid""",
        from_extra=", assign",
        where=(
            "WHERE assign.vec_id = enc.vec_id "
            f"AND lutl.{'cell' if batch else 'qid'} = assign.cid"
        ),
        limit=limit,
        q_sql=q_sql,
        keyed_lut=True,
        batch_k=batch_k,
        trained_iters=trained_iters,
        rerank=rerank,
        rerank_src="e0",
        rerank_q="q0",
    )


def _l2_recall_oracle(
    method: str, e_ctes: str, approx_sql: str, k: int = 10
) -> str:
    """ONE recall-replay skeleton for the L2-baselined index gates:
    exact = the
    squared-L2 top-k over the `e` CTE (rounded to 6 before ordering,
    ties to vec_id — matching topk_l2_bruteforce), approx = the full
    index replay, output = the shared (method, k, hits, recall)
    contract."""
    l2 = _L2_SQL.format(dim=S.DIM, a="e.v", b="q.qv")
    return f"""
    WITH {e_ctes},
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id = 0),
    exact AS (
        SELECT vec_id FROM (
            SELECT e.vec_id, ROUND({l2}, 6) AS d
            FROM e, q ORDER BY d, e.vec_id LIMIT {k}) s
    ),
    approx AS (SELECT vec_id FROM ({approx_sql}) a)
    SELECT '{method}' AS method, CAST({k} AS BIGINT) AS k,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM approx JOIN exact USING (vec_id)) AS hits,
           ROUND((SELECT CAST(COUNT(*) AS BIGINT)
            FROM approx a2 JOIN exact e2 USING (vec_id))
            * 1.0 / {k}, 6) AS recall
    """


def _batch_l2_recall_oracle(
    method: str, e_ctes: str, approx_sql: str, k: int, n_queries: int,
    q_where: str | None = None,
) -> str:
    """Batch form of _l2_recall_oracle: exact = the per-qid
    squared-L2 top-k over the `e` CTE (rounded to 6 before ordering,
    ties to vec_id — topk_l2_bruteforce_batch), approx = the full
    batch index replay's (qid, vec_id) pairs, hits = the (qid,
    vec_id)-keyed intersection, recall = hits / (Q*k). Mean recall
    over Q queries de-noises the single-query gauge (recall steps of
    1/k) enough to show a training-regime difference. `q_where`
    overrides the default lowest-Q query set — the coarse-training
    gauge needs query ids DISJOINT from the centroid seed ids, which
    are the k lowest (a seed-id query's own cell always ranks first
    at cosine 1.0, biasing the seed figure upward)."""
    l2 = _L2_SQL.format(dim=S.DIM, a="e.v", b="q.qv")
    total = k * n_queries
    q_where = q_where or f"vec_id < {n_queries}"
    return f"""
    WITH {e_ctes},
    bq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE {q_where}),
    exact AS (
        SELECT qid, vec_id FROM (
            SELECT q.qid, e.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                                      ORDER BY ROUND({l2}, 6),
                                               e.vec_id) AS rn
            FROM e, bq q) s WHERE rn <= {k}),
    approx AS (SELECT qid, vec_id FROM ({approx_sql}) a)
    SELECT '{method}' AS method, CAST({total} AS BIGINT) AS n,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM approx JOIN exact USING (qid, vec_id)) AS hits,
           ROUND((SELECT CAST(COUNT(*) AS BIGINT)
            FROM approx a2 JOIN exact e2 USING (qid, vec_id))
            * 1.0 / {total}, 6) AS recall
    """


# ---------------------------------------------------------------------------
# OPQ-permuted PQ: an orthogonal
# pre-transform before PQ, trained AND oracle-replayed. Ge et al.'s
# non-parametric OPQ alternates Lloyd with an SVD step no SQL engine
# replays exactly; the permutation member of the orthogonal family is
# trainable with exact window arithmetic, and its variance-balancing
# objective is the parametric OPQ eigenvalue-allocation criterion on
# the coordinate basis (operators/similarity.opq_dim_permutation).
# ---------------------------------------------------------------------------

_OPQ_HEAVY = 8  # dims 1..8 scaled x4: the natural block 0 hoards variance
_OPQ_W = "4.0"  # power of two — exact float scaling in both engines

_OPQ_ANISO_CTE = f"""eaniso AS (
        SELECT vec_id, list_transform(generate_series(1, {S.DIM}), d ->
            CAST(embedding AS DOUBLE[])[d]
            * (CASE WHEN d <= {_OPQ_HEAVY} THEN {_OPQ_W} ELSE 1.0 END)) AS v
        FROM embeddings
    )"""

def _opq_perm_ctes(src: str) -> str:
    """The trained variance-permutation replay (vstats/ranked/assign/
    perml) over any vector CTE `src(vec_id, v)` — the rotation variant trains the same permutation over the ROTATED
    relation."""
    return f"""vstats AS (
        SELECT gs.d,
               ROUND(AVG(v[gs.d] * v[gs.d]) - AVG(v[gs.d]) * AVG(v[gs.d]),
                     6) AS vr
        FROM {src}, generate_series(1, {S.DIM}) gs(d) GROUP BY gs.d
    ),
    ranked AS (
        SELECT d, ROW_NUMBER() OVER (ORDER BY vr DESC, d) - 1 AS r
        FROM vstats
    ),
    assign AS (
        SELECT d, r,
               CASE WHEN r % {2 * S.PQ_M} < {S.PQ_M} THEN r % {2 * S.PQ_M}
                    ELSE {2 * S.PQ_M - 1} - (r % {2 * S.PQ_M}) END AS blk
        FROM ranked
    ),
    perml AS (
        SELECT flatten(list(dims ORDER BY blk)) AS pl FROM (
            SELECT blk, list(d ORDER BY r) AS dims
            FROM assign GROUP BY blk) z
    )"""


_OPQ_PERM_CTES = _opq_perm_ctes("eaniso")


def _opq_variant_recall_sql(method: str, permuted: bool) -> str:
    """One variant's full recall replay: the anisotropic relation,
    optionally the trained permutation (variance ranking + snake
    assignment — the exact arithmetic opq_dim_permutation collects),
    the Lloyd-trained PQ encode/ADC replay over it (_pq_oracle — the
    shared generator, zero restated arithmetic), and the exact batch
    top-k over the UN-permuted anisotropic relation (valid for both
    variants: L2 is permutation-invariant)."""
    pre = _OPQ_ANISO_CTE + ",\n    "
    if permuted:
        pre += _OPQ_PERM_CTES + ",\n    "
        e_sql = (
            f"SELECT vec_id, list_transform(generate_series(1, {S.DIM}),"
            " p -> eaniso.v[CAST(pl[p] AS INT)]) AS v FROM eaniso, perml"
        )
    else:
        e_sql = "SELECT vec_id, v FROM eaniso"
    approx = _pq_oracle(
        pre_ctes=pre,
        e_sql=e_sql,
        batch_k=10,
        q_sql=(
            "SELECT vec_id AS qid, v AS qv FROM e "
            f"WHERE vec_id < {_TRAINED_Q}"
        ),
        trained_iters=_TRAINED_ITERS,
    )
    l2 = _L2_SQL.format(dim=S.DIM, a="ea.v", b="bq.qv")
    total = 10 * _TRAINED_Q
    return f"""
    WITH {_OPQ_ANISO_CTE},
    bq AS (SELECT vec_id AS qid, v AS qv FROM eaniso
           WHERE vec_id < {_TRAINED_Q}),
    exact AS (
        SELECT qid, vec_id FROM (
            SELECT bq.qid, ea.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY bq.qid
                                      ORDER BY ROUND({l2}, 6),
                                               ea.vec_id) AS rn
            FROM eaniso ea, bq) s WHERE rn <= 10),
    approx AS (SELECT qid, vec_id FROM ({approx}) a)
    SELECT '{method}' AS method, CAST({total} AS BIGINT) AS n,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM approx JOIN exact USING (qid, vec_id)) AS hits,
           ROUND((SELECT CAST(COUNT(*) AS BIGINT)
            FROM approx a2 JOIN exact e2 USING (qid, vec_id))
            * 1.0 / {total}, 6) AS recall
    """


@query(
    "pq_opq_recall",
    bench=True,
    oracle=(
        "SELECT * FROM ("
        + _opq_variant_recall_sql("pq_aniso_opq", permuted=True)
        + ") UNION ALL SELECT * FROM ("
        + _opq_variant_recall_sql("pq_aniso_plain", permuted=False)
        + ")"
    ),
)
def pq_opq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-permuted vs plain PQ on an ANISOTROPIC planted fixture —
    the orthogonal-pre-transform rung above the trained codebooks:
    scale dims 1-8 of the
    embeddings by exactly 4.0 (a power of two, so both engines scale
    bit-identically), which makes PQ's natural block 0 hoard the
    variance its 16 entries cannot cover; then train the
    variance-balancing dimension permutation
    (operators/similarity.opq_dim_permutation — ROUND(var, 6)
    ranking, snake assignment), build Lloyd-TRAINED persisted PQ
    indexes over BOTH layouts, and serve the same Q=8 batch from
    each. Measured at sf0.01: plain 0.375 vs permuted 0.6375 mean
    recall@10 against the same exact ground truth (L2 is
    permutation-invariant, so one bruteforce side serves both).
    The oracle replays the anisotropy, the permutation TRAINING,
    both Lloyd trainings, both batch encode/ADC paths and the exact
    side — the full OPQ-family pipeline cross-engine, which is why
    the permutation (not the SVD rotation) is the member shipped."""
    from .storage import pq_index_batch_probe, write_pq_index

    from concurrent.futures import ThreadPoolExecutor

    aniso = _aniso_embeddings(spark, sf_dir)
    expect = _expect(_PQ)  # the trained regime; the layout pins PQ geometry
    # overlap the driver-blocking permutation training with the PLAIN
    # leg's plan construction, which does not depend on it (the
    # pq_opq_rotation_recall shape; guide §2.6 — actions are only
    # sequential because the driver calls them sequentially)
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut_perm = pool.submit(S.opq_dim_permutation, aniso)
        path_plain = _persisted_index(
            "pq_opq_plain", sf_dir,
            lambda p: write_pq_index(aniso, p,
                                     train_iterations=_TRAINED_ITERS),
        )
        qs_plain = aniso.filter(F.col("vec_id") < _TRAINED_Q).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qvec"),
        )
        a_plain = pq_index_batch_probe(
            spark, path_plain, qs_plain, k=10, expect=expect
        )
        exact = S.topk_l2_bruteforce_batch(aniso, qs_plain, k=10)
        permuted = S.apply_dim_permutation(aniso, fut_perm.result())
    path_opq = _persisted_index(
        "pq_opq_perm", sf_dir,
        lambda p: write_pq_index(permuted, p,
                                 train_iterations=_TRAINED_ITERS),
    )
    qs_perm = permuted.filter(F.col("vec_id") < _TRAINED_Q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    a_opq = pq_index_batch_probe(
        spark, path_opq, qs_perm, k=10, expect=expect
    )
    total = 10 * _TRAINED_Q
    out = _recall_result_batch(
        a_opq, exact, "pq_aniso_opq", total
    ).unionByName(
        _recall_result_batch(a_plain, exact, "pq_aniso_plain", total)
    )
    # pin both probes' tie_cache'd query relations to the composed
    # plan (the pq_trained_recall rule)
    return D.pin(out, [a_plain, a_opq])


def _aniso_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted anisotropic relation both OPQ variants share: dims
    1.._OPQ_HEAVY scaled by exactly 4.0 (power of two — the float
    scaling is exact in both engines, so no rounding site exists)."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(
        S.as_double("embedding"),
        lambda x, i: x * F.when(
            i < _OPQ_HEAVY, F.lit(4.0)
        ).otherwise(F.lit(1.0)),
    )
    return e.select("vec_id", v.alias("embedding"))


# ---------------------------------------------------------------------------
# OPQ rotation member: the
# correlated-dims fixture the permutation CANNOT fix, and the
# trained-matching paired Hadamard that can.
# ---------------------------------------------------------------------------

def _rot_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-BLOCK-CORRELATED planted fixture: dim d+32 carries
    4*v[d] + v[d+32] (the 4 is a power of two — the multiply is
    exact; the add is the same two IEEE operands in both engines) —
    think of a feature pipeline that leaked a scaled copy of the
    first encoder's coordinates into the second's. Every dim in the
    upper half is now ~0.97-correlated with its lower twin ACROSS PQ
    blocks, which a permutation can only relocate, never separate."""
    e = load_table(spark, sf_dir, "embeddings")
    v = S.as_double("embedding")
    fix = F.transform(
        v,
        lambda x, i: F.when(
            i >= S.DIM // 2,
            F.element_at(v, i - (S.DIM // 2 - 1)) * F.lit(4.0) + x,
        ).otherwise(x),
    )
    return e.select("vec_id", fix.alias("embedding"))


_ROT_FIX_CTE = f"""erot AS (
        SELECT vec_id, list_transform(generate_series(1, {S.DIM}), d ->
            CASE WHEN d > {S.DIM // 2}
                 THEN CAST(embedding AS DOUBLE[])[d - {S.DIM // 2}] * 4.0
                      + CAST(embedding AS DOUBLE[])[d]
                 ELSE CAST(embedding AS DOUBLE[])[d] END) AS v
        FROM embeddings
    )"""

# the trained mutual-best-covariance matching + paired-Hadamard
# replay (operators/similarity.opq_pair_rotation /
# apply_pair_rotation): covariances via the same explode+self-join
# shape, ROUND(,6) in the identical algebraic form, per-dim best by
# (|cov| desc, partner asc), mutual pairs, leftovers consecutive,
# then y[a] = v[a] + v[b], y[b] = v[a] - v[b].
_ROT_TRAIN_CTES = f"""rflat AS (
        SELECT vec_id, gs.d, v[gs.d] AS x
        FROM erot, generate_series(1, {S.DIM}) gs(d)
    ),
    rmeans AS (SELECT d, AVG(x) AS mu FROM rflat GROUP BY d),
    rprods AS (
        SELECT a.d AS da, b.d AS db, AVG(a.x * b.x) AS pavg
        FROM rflat a JOIN rflat b
          ON a.vec_id = b.vec_id AND a.d < b.d
        GROUP BY a.d, b.d
    ),
    rcovs AS (
        SELECT da, db, ROUND(pavg - ma.mu * mb.mu, 6) AS cv
        FROM rprods JOIN rmeans ma ON ma.d = da
                    JOIN rmeans mb ON mb.d = db
    ),
    rcsym AS (
        SELECT da AS d, db AS p, cv FROM rcovs
        UNION ALL SELECT db, da, cv FROM rcovs
    ),
    rbest AS (
        SELECT d, p FROM (
            SELECT d, p, ROW_NUMBER() OVER (PARTITION BY d
                         ORDER BY abs(cv) DESC, p) AS rn
            FROM rcsym) WHERE rn = 1
    ),
    rmut AS (
        SELECT x.d AS a, x.p AS b FROM rbest x
        JOIN rbest y ON x.p = y.d AND y.p = x.d
        WHERE x.d < x.p
    ),
    rrest AS (
        SELECT d, ROW_NUMBER() OVER (ORDER BY d) - 1 AS r
        FROM generate_series(1, {S.DIM}) g(d)
        WHERE d NOT IN (SELECT a FROM rmut UNION SELECT b FROM rmut)
    ),
    rallp AS (
        SELECT a, b FROM rmut
        UNION ALL
        SELECT x.d, y.d FROM rrest x
        JOIN rrest y ON y.r = x.r + 1 AND x.r % 2 = 0
    ),
    rposmap AS (
        SELECT a AS pp, a AS pa, b AS pb, 1 AS sgn FROM rallp
        UNION ALL SELECT b, a, b, -1 FROM rallp
    ),
    rycoord AS (
        SELECT e2.vec_id, pm.pp,
               e2.v[pm.pa] + pm.sgn * e2.v[pm.pb] AS yv
        FROM erot e2, rposmap pm
    ),
    eroty AS MATERIALIZED (
        -- MATERIALIZED: the Lloyd-chain CTEs downstream reference the
        -- rotated relation many times, and DuckDB's default CTE
        -- inlining would re-run the whole covariance-matching train
        -- per reference (measured: minutes -> seconds)
        SELECT vec_id, list(yv ORDER BY pp) AS v
        FROM rycoord GROUP BY vec_id
    )"""


def _opq_rot_variant_sql(method: str, rotated: bool) -> str:
    """One rotation-fixture variant's full recall replay: the
    correlated fixture, optionally the trained matching + Hadamard,
    the trained permutation over whichever relation serves, the
    Lloyd-trained PQ encode/ADC replay, and the exact batch top-k
    over the UN-rotated fixture (valid for both variants: the
    permutation preserves L2 and the paired Hadamard scales every
    squared distance by exactly 2)."""
    pre = _ROT_FIX_CTE + ",\n    "
    if rotated:
        pre += _ROT_TRAIN_CTES + ",\n    "
        pre += _opq_perm_ctes("eroty") + ",\n    "
        e_sql = (
            f"SELECT vec_id, list_transform(generate_series(1, {S.DIM}),"
            " p -> eroty.v[CAST(pl[p] AS INT)]) AS v FROM eroty, perml"
        )
    else:
        pre += _opq_perm_ctes("erot") + ",\n    "
        e_sql = (
            f"SELECT vec_id, list_transform(generate_series(1, {S.DIM}),"
            " p -> erot.v[CAST(pl[p] AS INT)]) AS v FROM erot, perml"
        )
    approx = _pq_oracle(
        pre_ctes=pre,
        e_sql=e_sql,
        batch_k=10,
        q_sql=(
            "SELECT vec_id AS qid, v AS qv FROM e "
            f"WHERE vec_id < {_TRAINED_Q}"
        ),
        trained_iters=_TRAINED_ITERS,
    )
    l2 = _L2_SQL.format(dim=S.DIM, a="ea.v", b="bq.qv")
    total = 10 * _TRAINED_Q
    return f"""
    WITH {_ROT_FIX_CTE},
    bq AS (SELECT vec_id AS qid, v AS qv FROM erot
           WHERE vec_id < {_TRAINED_Q}),
    exact AS (
        SELECT qid, vec_id FROM (
            SELECT bq.qid, ea.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY bq.qid
                                      ORDER BY ROUND({l2}, 6),
                                               ea.vec_id) AS rn
            FROM erot ea, bq) s WHERE rn <= 10),
    approx AS (SELECT qid, vec_id FROM ({approx}) a)
    SELECT '{method}' AS method, CAST({total} AS BIGINT) AS n,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM approx JOIN exact USING (qid, vec_id)) AS hits,
           ROUND((SELECT CAST(COUNT(*) AS BIGINT)
            FROM approx a2 JOIN exact e2 USING (qid, vec_id))
            * 1.0 / {total}, 6) AS recall
    """


@query(
    "pq_opq_rotation_recall",
    bench=True,
    oracle=(
        "SELECT * FROM ("
        + _opq_rot_variant_sql("pq_rot_rotated", rotated=True)
        + ") UNION ALL SELECT * FROM ("
        + _opq_rot_variant_sql("pq_rot_permuted", rotated=False)
        + ")"
    ),
)
def pq_opq_rotation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ ROTATION member vs the permutation member on a
    CROSS-BLOCK-CORRELATED fixture: dim d+32 is contaminated with a 4x-scaled copy of dim
    d (_rot_embeddings), so pairs of dims in DIFFERENT PQ blocks
    carry ~0.97-correlated coordinates — redundancy a permutation
    can relocate but never remove (Ge et al., CVPR 2013: correlated
    dims are exactly where OPQ needs the rotation, not just the
    eigenvalue allocation). The replayable rotation a relational
    engine can TRAIN bit-reproducibly (the full Procrustes solver
    needs an SVD no SQL engine replays): learn WHICH dims to mix by
    mutual-best-|covariance| matching
    (operators/similarity.opq_pair_rotation — ROUND(cov, 6), ties to
    the lower dim, leftovers consecutive), rotate every matched pair
    by the exact-integer scaled Hadamard [[1,1],[1,-1]] (uniform
    sqrt(2): every squared L2 scales by exactly 2, so exact ground
    truth on the un-rotated relation stays valid — the pq_opq_recall
    power-of-two playbook), then train the variance permutation over
    the ROTATED relation and Lloyd-train PQ on the result. Measured
    at sf0.01: permuted-only 0.4125 vs rotated 0.4625 mean recall@10,
    same exact side — the matching discovers all 32 planted pairs.
    The oracle replays the fixture, the covariance MATCHING training,
    the Hadamard, both permutation trainings, both Lloyd trainings,
    both batch encode/ADC paths and the exact side."""
    from .storage import pq_index_batch_probe, write_pq_index

    from concurrent.futures import ThreadPoolExecutor

    xr = _rot_embeddings(spark, sf_dir)
    # ONE aggregation job trains the pairing AND the un-rotated
    # variance permutation: opq_pair_rotation_stats' diagonal
    # cells carry bit-identical ROUND(var, 6) doubles to a separate
    # opq_dim_permutation pass (asserted identical over every shipped
    # fixture/sf), so a two-job overlap collapses to one collect
    pairs, vs = S.opq_pair_rotation_stats(xr)
    permuted = S.apply_dim_permutation(
        xr, S._variance_ranked_permutation(vs, S.PQ_M, S.DIM)
    )
    rot = S.apply_pair_rotation(xr, pairs)
    expect = _expect(_PQ)  # the trained regime; the layout pins PQ geometry
    # the ROTATED side's permutation is a genuinely separate training
    # (variances of the rotated relation; deriving them algebraically
    # would change the floating-point path the oracle replays) —
    # overlap that driver-blocking collect with the permuted leg's
    # plan construction, which depends only on `permuted` (guide §2.6)
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut_rotperm = pool.submit(S.opq_dim_permutation, rot)
        path_perm = _persisted_index(
            "pq_rotf_perm", sf_dir,
            lambda p: write_pq_index(permuted, p,
                                     train_iterations=_TRAINED_ITERS),
        )
        qs_perm = permuted.filter(F.col("vec_id") < _TRAINED_Q).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qvec"),
        )
        qs_exact = xr.filter(F.col("vec_id") < _TRAINED_Q).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qvec"),
        )
        a_perm = pq_index_batch_probe(
            spark, path_perm, qs_perm, k=10, expect=expect
        )
        exact = S.topk_l2_bruteforce_batch(xr, qs_exact, k=10)
        rotated = S.apply_dim_permutation(rot, fut_rotperm.result())
    path_rot = _persisted_index(
        "pq_rotf_rot", sf_dir,
        lambda p: write_pq_index(rotated, p,
                                 train_iterations=_TRAINED_ITERS),
    )
    qs_rot = rotated.filter(F.col("vec_id") < _TRAINED_Q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    a_rot = pq_index_batch_probe(
        spark, path_rot, qs_rot, k=10, expect=expect
    )
    total = 10 * _TRAINED_Q
    out = _recall_result_batch(
        a_rot, exact, "pq_rot_rotated", total
    ).unionByName(
        _recall_result_batch(a_perm, exact, "pq_rot_permuted", total)
    )
    return D.pin(out, [a_perm, a_rot])


# ---------------------------------------------------------------------------
# JL random-projection reduction + recall
# ---------------------------------------------------------------------------

_JL_DIMS = (8, 16)
_JL_K = 10


def _jl_oracle() -> str:
    def reduced(src: str, out_dim: int) -> str:
        rows = S.jl_matrix(out_dim)
        els = ", ".join(
            "list_dot_product({v}, [{row}])".format(
                v=src, row=", ".join(f"{x}.0" for x in r)
            )
            for r in rows
        )
        return f"[{els}]"

    red_ctes = ",\n    ".join(
        f"""red{od} AS (
        SELECT e.vec_id,
               ROUND(list_dot_product({reduced('e.v', od)}, q.rq) /
               (sqrt(list_dot_product({reduced('e.v', od)}, {reduced('e.v', od)}))
                * sqrt(list_dot_product(q.rq, q.rq))), 6) AS rcos
        FROM e, (SELECT {reduced('qv', od)} AS rq FROM q) q
    )"""
        for od in _JL_DIMS
    )
    legs = "\n    UNION ALL\n    ".join(
        f"""SELECT CAST({od} AS BIGINT) AS out_dim,
           CAST({_JL_K} AS BIGINT) AS k,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM (
               SELECT vec_id FROM red{od}
               ORDER BY rcos DESC, vec_id LIMIT {_JL_K}
           ) r JOIN exact USING (vec_id)) AS hits"""
        for od in _JL_DIMS
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    exact AS (
        SELECT vec_id FROM (
            SELECT e.vec_id,
                   ROUND(list_dot_product(e.v, q.qv) /
                   (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
            FROM e, q
        ) s ORDER BY cos_sim DESC, vec_id LIMIT {_JL_K}
    ),
    {red_ctes}
    SELECT out_dim, k, hits,
           ROUND(hits / CAST({_JL_K} AS DOUBLE), 6) AS recall
    FROM ({legs}) u
    ORDER BY out_dim
    """


@query("jl_projection_recall", oracle=_jl_oracle())
def jl_projection_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss reduction evaluated by what it costs:
    project 64-dim embeddings to 8 and 16 dims with a deterministic
    integer projection (operators/similarity.jl_matrix — replayable
    in any engine), run the same cosine top-10 in reduced space, and
    report recall against the exact 64-dim top-10. This is the
    shrink-before-ANN decision metric: at 100 TB the reduced column
    is 4-8x less IO for every downstream scan, and this query is the
    measurement that says what recall that buys. The projection is a
    map-only scan (no shuffle, no Python); all three top-10s are
    k-sized so the intersection joins broadcast."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    exact = S.topk_bruteforce(e, q, k=_JL_K).select("vec_id")

    def one(od: int) -> DataFrame:
        red = e.select(
            "vec_id", S.jl_reduce("embedding", od).alias("_rv")
        )
        rq = F.broadcast(  # bcast bound: 1 query row
            q.select(S.jl_reduce("embedding", od).alias("_rq"))
        )
        top = (
            red.crossJoin(rq)
            .select(
                "vec_id",
                F.round(S.cosine(F.col("_rv"), F.col("_rq")), 6).alias("rcos"),
            )
            .orderBy(F.desc("rcos"), "vec_id")
            .limit(_JL_K)
        )
        hits = (
            top.select("vec_id")
            .join(F.broadcast(exact), "vec_id", "left_semi")  # bcast bound: k rows
            .agg(F.count("*").alias("hits"))
        )
        return hits.select(
            F.lit(od).cast("long").alias("out_dim"),
            F.lit(_JL_K).cast("long").alias("k"),
            F.col("hits"),
            F.round(F.col("hits") / F.lit(float(_JL_K)), 6).alias("recall"),
        )

    out = one(_JL_DIMS[0])
    for od in _JL_DIMS[1:]:
        out = out.unionByName(one(od))
    return out.orderBy("out_dim")


# ---------------------------------------------------------------------------
# scalar-quantized (SQ8) and IVF-SQ8 persisted-index replays
# ---------------------------------------------------------------------------

def _sq_ctes() -> str:
    """The SQ8 replay CTEs over the `e` relation: exact per-dim
    min/max ranges (`mm`), then codes via the same clamped
    floor((x-lo)*256/(hi-lo)) sq_encode computes — every term a
    single IEEE expression in the same order, so codes match
    bit-for-bit with no rounding-tie exposure (incl. the explicit
    NULL-element -> NULL-code arm, sq_encode's rule —
    engines disagree on clamping NULL, so neither side may clamp)."""
    return f"""
    mm AS (
        SELECT list(mn ORDER BY d) AS lo, list(mx ORDER BY d) AS hi
        FROM (SELECT d, MIN(v[d]) AS mn, MAX(v[d]) AS mx
              FROM e, generate_series(1, {S.DIM}) t(d) GROUP BY d) s
    ),
    c AS (
        SELECT vec_id,
               list_transform(generate_series(1, {S.DIM}), d ->
                   CASE WHEN v[d] IS NULL OR hi[d] IS NULL
                             OR lo[d] IS NULL THEN NULL
                        WHEN hi[d] = lo[d] THEN 0
                        ELSE LEAST(GREATEST(CAST(FLOOR(
                            (v[d] - lo[d]) * 256 / (hi[d] - lo[d]))
                            AS BIGINT), 0), 255)
                   END) AS code
        FROM e, mm
    )"""


_SQ_ADIST_SQL = (
    "list_sum(list_transform(generate_series(1, {dim}), d -> "
    "(q.qv[d] - (lo[d] + (code[d] + 0.5) * (hi[d] - lo[d]) / 256)) * "
    "(q.qv[d] - (lo[d] + (code[d] + 0.5) * (hi[d] - lo[d]) / 256))))"
)


def _sq_probe_sql(k: int = 10) -> str:
    adist = _SQ_ADIST_SQL.format(dim=S.DIM)
    return f"""
    SELECT vec_id, ROUND({adist}, 6) AS adist
    FROM c, mm, q
    ORDER BY ROUND({adist}, 6), vec_id LIMIT {k}
    """


def _ivfsq_ctes(coarse_iters: int = 0) -> str:
    """Coarse-quantizer replay over the full `e` relation: the shared
    assignment CTEs plus the single query's top-`_NPROBE` cells. qcells
    is self-contained (own scalar query subquery) so the same CTE
    text drops into both the probe oracle and _l2_recall_oracle's
    skeleton, whose `q` CTE is defined after the caller's CTEs."""
    return f"""
    {_coarse_ctes("e", coarse_iters)},
    qcells AS (
        SELECT c.cid FROM cents c,
             (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
              WHERE vec_id = 0) q2
        ORDER BY {_COS.format(a='q2.qv', b='c.cvec')} DESC, c.cid
        LIMIT {_NPROBE})"""


def _ivfsq_probe_sql(k: int = 10) -> str:
    adist = _SQ_ADIST_SQL.format(dim=S.DIM)
    return f"""
    SELECT c.vec_id, ROUND({adist}, 6) AS adist
    FROM c, assign, mm, q
    WHERE c.vec_id = assign.vec_id
      AND assign.cid IN (SELECT cid FROM qcells)
    ORDER BY ROUND({adist}, 6), c.vec_id LIMIT {k}
    """


def _sq_oracle(
    k: int,
    q_where: str = "",
    cells: bool = False,
    coarse_iters: int = 0,
) -> str:
    """SQ8 serving replay: the quantizer and every code (_sq_ctes),
    then the ADC top-`k` of the single query vec_id 0 or, with
    `q_where`, the per-qid top-`k` of a (qid, qv) batch. `cells` adds
    the IVF-SQ coarse assignment (trained per `coarse_iters`) and
    scores only the `_NPROBE` cells each query ranks best."""
    head = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    """
    q = "q AS (SELECT v AS qv FROM e WHERE vec_id = 0)"
    if not q_where and cells:
        return f"""{head}{q},
    {_sq_ctes()},
    {_ivfsq_ctes(coarse_iters)}
    {_ivfsq_probe_sql(k)}
    """
    if not q_where:
        return f"""{head}{_sq_ctes()},
    {q}
    {_sq_probe_sql(k)}
    """
    qs = f"""qs AS (SELECT vec_id AS qid, v AS qv FROM e
           WHERE {q_where})"""
    adist = f"ROUND({_SQ_ADIST_SQL.format(dim=S.DIM)}, 6) AS adist"
    if cells:
        scored = f"""
    {_coarse_ctes("e", coarse_iters)},
    {qs},
    {_qs_cells()},
    scored AS (
        SELECT q.qid, c.vec_id,
               {adist}
        FROM c
        JOIN assign ON c.vec_id = assign.vec_id
        JOIN qcells ON assign.cid = qcells.cid
        JOIN qs q ON q.qid = qcells.qid
        CROSS JOIN mm
    )"""
    else:
        scored = f"""{qs},
    scored AS (
        SELECT q.qid, c.vec_id,
               {adist}
        FROM c, mm, qs q
    )"""
    return f"""{head}{_sq_ctes()},
    {scored}
    {_ranked("adist", "adist", "scored", k)}
    """


# ---------------------------------------------------------------------------
# graph centrality over the kNN graph
# ---------------------------------------------------------------------------

def _pagerank_oracle(iters: int = 3, k_out: int = 20) -> str:
    """Unrolled fixed-iteration PageRank replay: the kNN-graph oracle
    as the edge CTE, then r_t chained t=1..iters with the exact
    expressions pagerank_fixed writes — 1.0/n start, per-edge
    pr/outdeg contributions, (1-0.85)/n teleport + 0.85*mass, no
    dangling redistribution, final score scaled by n and rounded."""
    head = f"""
    WITH g AS ({_knn_graph_oracle()}),
    edges AS (SELECT vec_id AS src, neighbor_id AS dst FROM g),
    nodes AS (SELECT vec_id FROM embeddings),
    cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    ed AS (SELECT e.src, e.dst, d.outdeg
           FROM edges e JOIN deg d USING (src)),
    r0 AS (SELECT vec_id AS id, 1.0 / cnt.n AS pr FROM nodes, cnt)"""
    body = ""
    for t in range(1, iters + 1):
        body += f""",
    s{t} AS (SELECT ed.dst, SUM(r{t - 1}.pr / ed.outdeg) AS m
             FROM ed JOIN r{t - 1} ON ed.src = r{t - 1}.id
             GROUP BY ed.dst),
    r{t} AS (SELECT nodes.vec_id AS id,
                    (1.0 - 0.85) / cnt.n
                        + 0.85 * COALESCE(s{t}.m, 0.0) AS pr
             FROM nodes CROSS JOIN cnt
             LEFT JOIN s{t} ON nodes.vec_id = s{t}.dst)"""
    tail = f"""
    SELECT id AS vec_id, ROUND(pr * cnt.n, 6) AS pr_norm
    FROM r{iters}, cnt
    ORDER BY ROUND(pr * cnt.n, 6) DESC, id LIMIT {k_out}
    """
    return head + body + tail


@query("knn_pagerank", oracle=_pagerank_oracle(), bench=True)
def knn_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus centrality: the top-20 most central vectors by
    fixed-iteration PageRank over the whole-corpus kNN graph
    (operators/graph.pagerank_fixed over knn_graph_blocked's edges) —
    the "which documents anchor semantic neighbourhoods" signal
    curriculum/coreset selection uses, complementing the CC family's
    "which documents are the same". Three iterations unrolled so the
    oracle replays the recursion as chained CTEs; per iteration one
    src-keyed join + one dst-keyed map-side-combined sum — O(iters)
    shuffles, in-degree bounded by the graph's k, no driver-side data
    beyond the node-count scalar."""
    from ..operators import graph as G

    e = load_table(spark, sf_dir, "embeddings")
    edges = S.knn_graph_blocked(e, k=3).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    pr = G.pagerank_fixed(edges, e.select("vec_id"), iterations=3)
    out = pr.orderBy(F.desc("pr_norm"), "vec_id").limit(20)
    # the edge+outdeg cache is finalizer-tied to pr's handle; pin it
    # to the composed plan so it survives until execution
    return D.pin(out, pr)


_DECODE_GIF_SCHEMA = (
    "doc_id long, width long, height long, pix_checksum long"
)


@query(
    "multimodal_decode_gif",
    bench=True,
    oracle="""
    SELECT doc_id,
           doc_id % 5 + 2 AS width,
           doc_id % 4 + 2 AS height,
           CAST(list_sum(list_transform(
                generate_series(1, CAST((doc_id % 5 + 2) * (doc_id % 4 + 2)
                                        AS INT)),
                i -> CAST(ascii(substring(text,
                         CAST((i - 1) % length(text) AS INT) + 1, 1)) AS BIGINT)
                     + ascii(substring(text,
                         CAST((i - 1) % length(text) AS INT) + 1, 1)) * 3 % 256
                     + ascii(substring(text,
                         CAST((i - 1) % length(text) AS INT) + 1, 1)) * 7 % 256
           )) AS BIGINT) AS pix_checksum
    FROM documents
    """,
)
def multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paletted-image decode through the GIF codec — the one whose
    entropy coder (variable-width LZW: dictionary growth, KwKwK,
    12-bit reset) is implemented BY HAND from the public spec, not
    delegated to a library: per document, use the leading text bytes
    as palette indices of a doc_id-derived WxH GIF89a, encode
    (real LZW compression), DECODE, and emit geometry + the checksum
    of the palette-mapped RGB pixels. The oracle recomputes the
    checksum from the source text and the palette arithmetic
    (palette[t] = (t, 3t mod 256, 7t mod 256)) — it matches only if
    the LZW round-trip returns the exact index stream. Same
    no-shuffle mapInPandas shape as the BMP/PNG/WAV twins."""
    # spread the per-row pure-Python codec work — conditionally: the
    # fixture parquet is one split (the jpeg-leg query's rule), but on
    # a production-sized scan an unconditional
    # repartition would coalesce it onto #cores partitions
    d = _spread_small_scan(
        spark, sf_dir,
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            out = {"doc_id": [], "width": [], "height": [],
                   "pix_checksum": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(doc_id)
                w, h = i % 5 + 2, i % 4 + 2
                k = w * h
                raw = text.encode("utf-8")
                idx = (raw * (k // len(raw) + 1))[:k]  # cycle short docs
                dec = M.decode_gif(M.encode_gif(w, h, idx))
                out["doc_id"].append(i)
                out["width"].append(dec["width"])
                out["height"].append(dec["height"])
                out["pix_checksum"].append(sum(dec["pixels"]))
            yield pd.DataFrame(out)

    return d.mapInPandas(batches, _DECODE_GIF_SCHEMA)


_DECODE_JPEG_SCHEMA = (
    "doc_id long, width long, height long, pix_sum long"
)


@query(
    "multimodal_decode_jpeg",
    bench=True,
    oracle="""
    SELECT doc_id,
           (doc_id % 3 + 1) * 8 AS width,
           (doc_id % 2 + 1) * 8 AS height,
           CAST(list_sum(list_transform(
                generate_series(1, CAST((doc_id % 3 + 1) * (doc_id % 2 + 1)
                                        AS INT)),
                j -> 64 * LEAST(GREATEST(
                     2 * FLOOR((ascii(substring(text,
                             CAST((j - 1) % length(text) AS INT) + 1, 1))
                         - 128) / 2.0 + 0.5) + 128, 0), 255)))
           AS BIGINT) AS pix_sum
    FROM documents
    """,
)
def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy-format decode through the baseline JPEG codec
    (operators/jpeg.py — hand-written canonical Huffman, zigzag RLE,
    byte stuffing, restart markers, numpy DCT pair): per document,
    build an image of doc_id-derived 8x8-block geometry where BLOCK j
    is constant at text byte j — constant blocks quantize to a DC-only
    spectrum whose half-up integer arithmetic is exact (the module's
    determinism contract), so a LOSSY codec still has a bit-exact
    oracle: the replay computes each block's decoded level as
    clip(2*floor((t-128)/2 + 0.5) + 128) and sums 64 copies. The
    encode uses restart_interval=2, so every driver run also proves
    the RSTn + DC-predictor-reset path. General (non-constant) images
    exercise the same Huffman/IDCT machinery in tests/test_jpeg.py
    under PSNR bounds. Same no-shuffle mapInPandas shape as the
    BMP/PNG/GIF/WAV twins."""
    from ..operators import jpeg as J

    # spread the per-row pure-Python codec work — conditionally: the
    # fixture parquet is one split (the jpeg-leg query's rule), but on
    # a production-sized scan an unconditional
    # repartition would coalesce it onto #cores partitions
    d = _spread_small_scan(
        spark, sf_dir,
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            out = {"doc_id": [], "width": [], "height": [], "pix_sum": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(doc_id)
                wb, hb = i % 3 + 1, i % 2 + 1
                w, h = wb * 8, hb * 8
                raw = text.encode("utf-8")
                img = bytearray(w * h)
                for j in range(wb * hb):
                    v = raw[j % len(raw)]
                    by, bx = divmod(j, wb)
                    for y in range(8):
                        row = (by * 8 + y) * w + bx * 8
                        img[row:row + 8] = bytes([v]) * 8
                dec = J.decode_jpeg(
                    J.encode_jpeg(w, h, bytes(img), restart_interval=2)
                )
                out["doc_id"].append(i)
                out["width"].append(dec["width"])
                out["height"].append(dec["height"])
                out["pix_sum"].append(sum(dec["pixels"]))
            yield pd.DataFrame(out)

    return d.mapInPandas(batches, _DECODE_JPEG_SCHEMA)


@query(
    "multimodal_decode_jpeg420",
    bench=True,
    oracle="""
    SELECT doc_id,
           (doc_id % 3 + 1) * 16 AS width,
           (doc_id % 2 + 1) * 16 AS height,
           CAST(list_sum(list_transform(
                generate_series(1, CAST((doc_id % 3 + 1) * (doc_id % 2 + 1)
                                        * 4 AS INT)),
                j -> 192 * LEAST(GREATEST(
                     2 * FLOOR((ascii(substring(text,
                             CAST((j - 1) % length(text) AS INT) + 1, 1))
                         - 128) / 2.0 + 0.5) + 128, 0), 255)))
           AS BIGINT) AS pix_sum
    FROM documents
    WHERE doc_id % 4 = 0
    """,
)
def multimodal_decode_jpeg420(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:0 chroma-subsampled decode (the single most common wild-JPEG shape; operators/jpeg.py now encodes
    and decodes 16x16 MCUs of four Y blocks + one Cb + one Cr over
    2x2-mean-downsampled chroma). Per document, build a GRAY-valued
    RGB image of doc_id-derived 16x16-MCU geometry where each MCU's
    four 8x8 quadrants are constant at consecutive text bytes: gray
    input makes Y = t and Cb = Cr = 128 EXACTLY (the BT.601
    coefficients sum to 1 and the chroma terms cancel; the 2x2 mean
    of a constant is that constant), so the lossy 4:2:0 chain still
    has a bit-exact oracle — each quadrant decodes to
    clip(2*floor((t-128)/2 + 0.5) + 128) on all three channels, and
    the replay sums 192 copies per quadrant. restart_interval=2
    proves RSTn at 16x16-MCU counting with the quadrants exercising
    four distinct DC diffs per MCU. Chroma placement and Y-block
    ordering (invisible to a sum) are pinned by tests/test_jpeg.py
    against an independent from-scratch 4:2:0 reference decoder.
    Runs on a deterministic quarter of the corpus: 4:2:0 images carry
    12x the samples of the grayscale twin's (3 channels, 4x the
    blocks per geometry step), and pure-Python encode+decode cost is
    per-sample — the full-corpus run benched 8.2 s at sf0.1 where the
    quarter sample keeps the same per-document geometry coverage at
    ~2 s (every codec path still executes every driver run)."""
    from ..operators import jpeg as J

    # spread the per-row pure-Python codec work — conditionally: the
    # fixture parquet is one split (the jpeg-leg query's rule), but on
    # a production-sized scan an unconditional
    # repartition would coalesce it onto #cores partitions. Spread
    # AFTER the doc_id filter so parquet pushdown survives.
    d = _spread_small_scan(
        spark, sf_dir,
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        ).filter(F.col("doc_id") % 4 == 0),
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            out = {"doc_id": [], "width": [], "height": [], "pix_sum": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(doc_id)
                wb, hb = i % 3 + 1, i % 2 + 1
                w, h = wb * 16, hb * 16
                raw = text.encode("utf-8")
                img = bytearray(w * h * 3)
                for m in range(wb * hb):
                    my, mx = divmod(m, wb)
                    for q in range(4):
                        t = raw[(m * 4 + q) % len(raw)]
                        qy, qx = divmod(q, 2)
                        for y in range(8):
                            row = ((my * 16 + qy * 8 + y) * w
                                   + mx * 16 + qx * 8) * 3
                            img[row:row + 24] = bytes([t] * 24)
                dec = J.decode_jpeg(J.encode_jpeg(
                    w, h, bytes(img), mode="RGB", subsampling="420",
                    restart_interval=2,
                ))
                out["doc_id"].append(i)
                out["width"].append(dec["width"])
                out["height"].append(dec["height"])
                out["pix_sum"].append(sum(dec["pixels"]))
            yield pd.DataFrame(out)

    return d.mapInPandas(batches, _DECODE_JPEG_SCHEMA)


@query(
    "multimodal_decode_jpeg422",
    oracle="""
    SELECT doc_id,
           (doc_id % 3 + 1) * 16 AS width,
           (doc_id % 2 + 1) * 8 AS height,
           CAST(list_sum(list_transform(
                generate_series(1, CAST((doc_id % 3 + 1) * (doc_id % 2 + 1)
                                        * 2 AS INT)),
                j -> 192 * LEAST(GREATEST(
                     2 * FLOOR((ascii(substring(text,
                             CAST((j - 1) % length(text) AS INT) + 1, 1))
                         - 128) / 2.0 + 0.5) + 128, 0), 255)))
           AS BIGINT) AS pix_sum
    FROM documents
    WHERE doc_id % 4 = 1
    """,
)
def multimodal_decode_jpeg422(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:2 chroma-subsampled decode (the second most common wild-JPEG shape; operators/jpeg.py now encodes
    and decodes 16x8 MCUs of two Y blocks + one Cb + one Cr over
    horizontally-pair-mean-downsampled chroma). Same gray-fixture
    contract as the 4:2:0 twin: each MCU's two 8x8 halves are
    constant at consecutive text bytes, gray input makes Y = t and
    Cb = Cr = 128 exactly and the pair mean of a constant is that
    constant, so the lossy chain replays bit-exactly — each half
    decodes to clip(2*floor((t-128)/2 + 0.5) + 128) on all three
    channels, 192 copies summed. restart_interval=2 proves RSTn at
    the 16x8-MCU cadence with two DC diffs per MCU. The per-plane MCU
    geometry and chroma placement are pinned by tests/test_jpeg.py
    against the factor-generic independent reference decoder. Runs on
    a DIFFERENT deterministic quarter of the corpus than the 4:2:0
    twin (doc_id % 4 = 1), for the same pure-Python cost reason."""
    from ..operators import jpeg as J

    # spread the per-row pure-Python codec work — conditionally: the
    # fixture parquet is one split (the jpeg-leg query's rule), but on
    # a production-sized scan an unconditional
    # repartition would coalesce it onto #cores partitions. Spread
    # AFTER the doc_id filter so parquet pushdown survives.
    d = _spread_small_scan(
        spark, sf_dir,
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        ).filter(F.col("doc_id") % 4 == 1),
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            out = {"doc_id": [], "width": [], "height": [], "pix_sum": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(doc_id)
                wb, hb = i % 3 + 1, i % 2 + 1
                w, h = wb * 16, hb * 8
                raw = text.encode("utf-8")
                img = bytearray(w * h * 3)
                for m in range(wb * hb):
                    my, mx = divmod(m, wb)
                    for q in range(2):
                        t = raw[(m * 2 + q) % len(raw)]
                        for y in range(8):
                            row = ((my * 8 + y) * w + mx * 16 + q * 8) * 3
                            img[row:row + 24] = bytes([t] * 24)
                dec = J.decode_jpeg(J.encode_jpeg(
                    w, h, bytes(img), mode="RGB", subsampling="422",
                    restart_interval=2,
                ))
                out["doc_id"].append(i)
                out["width"].append(dec["width"])
                out["height"].append(dec["height"])
                out["pix_sum"].append(sum(dec["pixels"]))
            yield pd.DataFrame(out)

    return d.mapInPandas(batches, _DECODE_JPEG_SCHEMA)


# ---------------------------------------------------------------------------
# DCT perceptual-hash image near-dup (the multimodal dedup bridge — the codec family composed with the dedup
# family's never-all-pairs join shape)
# ---------------------------------------------------------------------------

# the Q14 DCT table as a 256-row VALUES relation — shared by every
# pHash oracle
_PHASH_KT = ",".join(
    f"({u},{x},{v})"
    for u, row in enumerate(M.PHASH_DCT_Q14) for x, v in enumerate(row)
)

# the hash-and-pair tail shared by every pHash oracle:
# expects preceding CTEs `kt(u, x, kv)` (the Q14 table) and
# `grid(id, gy, gx, gv)` (one row per 32x32 grid cell per image) and
# replays the separable DCT as two join-aggregates, the division-free
# AC-mean threshold, the 4-band pigeonhole join and the exact
# bit_count(xor) verify — phash64 + phash_near_pairs, relationally.
# `pair_pred` narrows WHICH pairs are emitted (the default is the
# in-corpus a < b rule; the index probes use an old-side x new-side
# split, optionally minus tombstoned ids).
def _phash_tail(pair_pred: str = "a.id < b.id") -> str:
    return """
rt AS (
    SELECT g.id, g.gy AS x, kt.u AS v,
           CAST(SUM(g.gv * kt.kv) AS BIGINT) AS rv
    FROM grid g JOIN kt ON kt.x = g.gx
    GROUP BY g.id, g.gy, kt.u
),
ct AS (
    SELECT r.id, kt.u, r.v, CAST(SUM(kt.kv * r.rv) AS BIGINT) AS cv
    FROM rt r JOIN kt ON kt.x = r.x
    GROUP BY r.id, kt.u, r.v
),
acsum AS (
    SELECT id, CAST(SUM(CASE WHEN u = 0 AND v = 0 THEN 0 ELSE cv END)
                    AS BIGINT) AS s
    FROM ct GROUP BY id
),
hs AS (
    SELECT ct.id,
           CAST(SUM(CASE WHEN (u != 0 OR v != 0) AND 63 * cv > s
                         THEN CAST(1 AS BIGINT) << (u * 8 + v - 1)
                         ELSE 0 END) AS BIGINT) AS phash
    FROM ct JOIN acsum USING (id) GROUP BY ct.id
),
bands AS (
    SELECT id, phash, j, (phash >> (16 * j)) & 65535 AS bk
    FROM hs, (VALUES (0), (1), (2), (3)) b(j)
),
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM bands a JOIN bands b
      ON a.j = b.j AND a.bk = b.bk AND (""" + pair_pred + """)
)
SELECT id_a, id_b, CAST(bit_count(xor(ha.phash, hb.phash)) AS INT) AS hamming
FROM cand JOIN hs ha ON ha.id = cand.id_a JOIN hs hb ON hb.id = cand.id_b
WHERE bit_count(xor(ha.phash, hb.phash)) <= 3
"""


_PHASH_TAIL = _phash_tail()

_PHASH_HEAD = """
WITH base AS (SELECT doc_id, text FROM documents
              WHERE length(text) > 0
                AND length(text) = strlen(text)),
kt(u, x, kv) AS (VALUES {KT}),
imgs AS (
    SELECT doc_id AS id, 4 + doc_id % 3 AS w, 4 + doc_id % 2 AS h,
           0 AS shift, 0 AS bump, text FROM base
    UNION ALL
    SELECT doc_id + 1000000, 4 + doc_id % 3, 4 + doc_id % 2, 8, 0, text
    FROM base WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000, 4 + doc_id % 3, 4 + doc_id % 2, 0, 0, text
    FROM base WHERE doc_id % 20 = 0
    UNION ALL
    SELECT doc_id + 3000000, 4 + doc_id % 3, 4 + doc_id % 2, 0, 2, text
    FROM base WHERE doc_id % 25 = 0
),
-- one row per 32x32 grid cell: floor-index nearest-neighbor sample of
-- the text-derived pixel stream (+shift for the brightness twin,
-- +bump on source pixel 0 for the tweak twin)
grid AS (
    SELECT id, CAST(i // 32 AS INT) AS gy, CAST(i % 32 AS INT) AS gx,
           LEAST(ascii(substring(text,
               CAST((((i // 32) * h // 32) * w + ((i % 32) * w // 32))
                    % length(text) AS INT) + 1, 1)) + shift
           + CASE WHEN ((i // 32) * h // 32) * w
                       + ((i % 32) * w // 32) = 0 THEN bump ELSE 0 END,
           255) AS gv
    FROM imgs, generate_series(0, 1023) s(i)
),""".replace("{KT}", _PHASH_KT)

_PHASH_ORACLE = _PHASH_HEAD + _PHASH_TAIL


@query("multimodal_phash_neardup", bench=True, oracle=_PHASH_ORACLE)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-dup via DCT perceptual hash (the multimodal dedup
    bridge): per document, synthesize a
    text-derived image, plant three near-dup twin classes — a
    BRIGHTNESS-SHIFTED copy (+8, id+1e6; found at hamming 0 BY
    CONSTRUCTION, the Q14 DCT rows sum to exactly 0), a RE-ENCODED
    copy (same pixels through the BMP codec instead of PNG, id+2e6;
    identical decoded plane, hamming 0 — the codec-parity leg), and a
    one-pixel TWEAK (+2 on pixel 0, id+3e6; found iff its hash lands
    within the radius — both engines compute the same answer) — then
    DECODE every blob through the real codecs (operators/multimodal:
    PNG inflate+unfilter, BMP BGR/bottom-up walk), hash the decoded
    luma plane (phash64: floor-sampled 32x32 grid, fixed-point
    separable DCT, division-free AC-mean threshold — every step
    integer-exact) and join near pairs with the SimHash shape
    (phash_near_pairs: four 16-bit band equi-joins, pigeonhole-
    complete for hamming <= 3, then ONE bit_count(xor) exact verify).

    100 TB story: hashing is map-only mapInPandas over the decoded
    blobs; the candidate step is a shuffle-hash join on the band key —
    NEVER an all-pairs cross — so image dedup scales exactly like the
    text near-dup family it composes with. The oracle replays the
    ENTIRE pipeline relationally in DuckDB: pixels from the text, the
    same Q14 table as a 256-row VALUES relation, the separable DCT as
    two join-aggregates, the same band join and xor verify.

    Both legs admit ASCII text only (Spark: length == octet_length;
    oracle: length == strlen — the same codepoints-equal-bytes test):
    the Spark leg samples UTF-8 BYTES while the oracle samples
    codepoints, and a multi-byte character would fork the two pixel
    streams — the filter closes that divergence by
    construction instead of leaning on the 255-clamp."""
    # spread the per-row codec work AFTER the source filter (pushdown
    # survives) — conditionally: the fixture parquet is one
    # split, but on a production-sized scan an unconditional
    # repartition would coalesce it onto #cores partitions
    d = _spread_small_scan(
        spark, sf_dir,
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") == F.octet_length("text")),
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            ids, hashes = [], []

            def emit(img_id, dec):
                g, w2, h2 = M.gray_plane(dec)
                ids.append(img_id)
                hashes.append(M.phash64(g, w2, h2))

            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(doc_id)
                raw = text.encode("utf-8")
                if not raw:
                    continue  # oracle's length(text) > 0 filter
                w, h = 4 + i % 3, 4 + i % 2
                k = w * h
                px = (raw * (k // len(raw) + 1))[:k]
                # min(..., 255): the saturation both twins share with
                # the oracle's LEAST — unreachable under the ASCII
                # gate (bytes <= 127), kept so a future fixture can
                # never crash the executor task
                emit(i, M.decode_png(M.encode_png(w, h, px, "L")))
                if i % 10 == 0:
                    bright = bytes(min(v + 8, 255) for v in px)
                    emit(i + 1000000,
                         M.decode_png(M.encode_png(w, h, bright, "L")))
                if i % 20 == 0:
                    rgb = bytes(v for v in px for _ in range(3))
                    emit(i + 2000000,
                         M.decode_image(M.encode_bmp(w, h, rgb)))
                if i % 25 == 0:
                    tweak = bytes([min(px[0] + 2, 255)]) + px[1:]
                    emit(i + 3000000,
                         M.decode_png(M.encode_png(w, h, tweak, "L")))
            yield pd.DataFrame({"doc_id": ids, "phash": hashes})

    # persist the hash relation (one long per image): the band join
    # references it six times (4 band projections + 2 verify sides),
    # and each recompute would re-run the pure-Python codec work —
    # cache lifetime tied to the result (the dedup family's contract)
    hashes = d.mapInPandas(batches, "doc_id long, phash long").persist()
    return D.tie_cache(
        M.phash_near_pairs(hashes, id_col="doc_id", max_hamming=3),
        hashes,
    )


# ---------------------------------------------------------------------------
# pHash through the LOSSY leg: the image
# near-dup bridge pinned across the repo's own baseline JPEG — the
# transform a wild near-dup corpus actually applies.
# ---------------------------------------------------------------------------

# Block-constant geometry shared by the Spark leg and the oracle:
# wb x hb blocks of 8x8 (wb = 3 + (i//4)%2, hb = 3 + (i//8)%2 — the
# geometry varies on i//4 because the corpus gate keeps doc_id % 4
# == 0, under which i%2-driven variation would be constant), block j (row-major) constant at text byte (j + doc_id) %
# len — the +doc_id offset decorrelates documents that merely share
# a prefix (the 31-word fixture vocabulary would otherwise clique).
_PHASH_JPEG_ORACLE = """
WITH base AS (SELECT doc_id, text FROM documents
              WHERE length(text) > 0
                AND length(text) = strlen(text)
                AND doc_id % 4 = 0),
kt(u, x, kv) AS (VALUES {KT}),
imgs AS (
    SELECT doc_id AS id, doc_id AS did, 3 + (doc_id // 4) % 2 AS wb,
           3 + (doc_id // 8) % 2 AS hb, 0 AS jp, text FROM base
    UNION ALL
    SELECT doc_id + 1000000, doc_id, 3 + (doc_id // 4) % 2,
           3 + (doc_id // 8) % 2, 1, text FROM base
    UNION ALL
    SELECT doc_id + 2000000, doc_id, 3 + (doc_id // 4) % 2,
           3 + (doc_id // 8) % 2, 1, text FROM base
    WHERE doc_id % 8 = 0
),
-- grid cell (gy, gx) samples pixel ((gy*h)//32, (gx*w)//32); its
-- block is (py//8, px//8); jp = 1 applies the exact-DC JPEG
-- quantization of a constant block: clip(2*floor((t-128)/2 + 0.5)
-- + 128) — the multimodal_decode_jpeg contract chained into the
-- pHash replay
grid AS (
    SELECT id, CAST(i // 32 AS INT) AS gy, CAST(i % 32 AS INT) AS gx,
           CAST(CASE WHEN jp = 1
                THEN LEAST(GREATEST(
                     2 * FLOOR((t - 128) / 2.0 + 0.5) + 128, 0), 255)
                ELSE t END AS BIGINT) AS gv
    FROM (
        SELECT id, i, jp,
               ascii(substring(text,
                   CAST((((i // 32) * hb * 8 // 32 // 8) * wb
                         + ((i % 32) * wb * 8 // 32 // 8) + did)
                        % length(text) AS INT) + 1, 1)) AS t
        FROM imgs, generate_series(0, 1023) s(i)
    )
),""".replace("{KT}", _PHASH_KT) + _PHASH_TAIL


@query("multimodal_phash_jpeg_neardup", bench=True,
       oracle=_PHASH_JPEG_ORACLE)
def multimodal_phash_jpeg_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IMAGE near-dup across the repo's own LOSSY codec (the lossless
    re-encode legs say nothing about lossy ones, and a wild near-dup corpus's dominant transform is JPEG
    re-encoding). Per even-id ASCII document, build a block-constant
    gray image (wb x hb blocks of 8x8, block j at text byte
    (j + doc_id) % len; a quarter of the corpus — the codec-family
    cost-gating precedent of multimodal_decode_jpeg420, with every
    geometry class and both twin classes still exercised per run),
    then plant two lossy twins: the image
    re-encoded through the baseline GRAY JPEG (id + 1e6,
    operators/jpeg.py, restart_interval=2) and — every eighth doc —
    through 4:2:0 CHROMA-SUBSAMPLED COLOR JPEG on the gray-valued RGB
    expansion (id + 2e6; gray input keeps Cb = Cr = 128 exactly, the
    4:2:0 playbook). Hash every decoded plane with phash64 and
    join near pairs with phash_near_pairs.

    Why this is exact: constant 8x8 blocks quantize to a DC-only
    spectrum, so the whole lossy chain collapses to
    clip(2*floor((t-128)/2 + 0.5) + 128) per block — even bytes
    survive JPEG unchanged, odd bytes shift +1 — and the oracle
    CHAINS that decode replay (multimodal_decode_jpeg's contract)
    into the pHash DCT replay: one SQL pipeline covers codec AND
    hash. Empirically ~93% of re-encodes land within hamming <= 3
    (found as pairs); the rest are genuine perceptual collapses
    (adjacent blocks t, t+1 quantize EQUAL, flattening the image) —
    both engines compute the same verdict either way, which is the
    point: the pair set is DEFINED by the hash, not curated. The
    4:2:0 twin hashes identically to the gray twin (same decoded
    plane), pinning codec parity through the lossy leg.

    100 TB story: identical to multimodal_phash_neardup — map-only
    decode+hash, band-key equi-joins, never all-pairs."""
    from ..operators import jpeg as J

    # spread the per-row pure-Python codec work AFTER the source
    # filters (pushdown survives): the fixture parquet is one split,
    # and a coarse upstream partitioning would serialize
    # encode+decode. Conditional: on a production-sized scan an
    # unconditional repartition would coalesce it onto #cores
    # partitions; with enough splits the scan's own partitioning
    # already spreads the codec work.
    d = _spread_small_scan(
        spark, sf_dir,
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(
            (F.length("text") == F.octet_length("text"))
            & (F.col("doc_id") % 4 == 0)
        ),
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            ids, hashes = [], []

            def emit(img_id, dec):
                g, w2, h2 = M.gray_plane(dec)
                ids.append(img_id)
                hashes.append(M.phash64(g, w2, h2))

            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(doc_id)
                raw = text.encode("utf-8")
                if not raw:
                    continue  # oracle's length(text) > 0 filter
                wb, hb = 3 + (i // 4) % 2, 3 + (i // 8) % 2
                w, h = wb * 8, hb * 8
                img = bytearray(w * h)
                for j in range(wb * hb):
                    v = raw[(j + i) % len(raw)]
                    by, bx = divmod(j, wb)
                    for y in range(8):
                        row = (by * 8 + y) * w + bx * 8
                        img[row:row + 8] = bytes([v]) * 8
                img = bytes(img)
                emit(i, M.decode_png(M.encode_png(w, h, img, "L")))
                emit(i + 1000000, J.decode_jpeg(
                    J.encode_jpeg(w, h, img, restart_interval=2)
                ))
                if i % 8 == 0:
                    rgb = bytes(v for v in img for _ in range(3))
                    emit(i + 2000000, J.decode_jpeg(J.encode_jpeg(
                        w, h, rgb, mode="RGB", subsampling="420",
                        restart_interval=2,
                    )))
            yield pd.DataFrame({"doc_id": ids, "phash": hashes})

    # persist the hash relation (one long per image): the band join
    # references it six times (4 band projections + 2 verify sides),
    # and each recompute would re-run the pure-Python codec work —
    # cache lifetime tied to the result (the dedup family's contract)
    hashes = d.mapInPandas(batches, "doc_id long, phash long").persist()
    return D.tie_cache(
        M.phash_near_pairs(hashes, id_col="doc_id", max_hamming=3),
        hashes,
    )


# ---------------------------------------------------------------------------
# Persisted pHash band index: crawl-loop IMAGE dedup with the same
# index lifecycle text already has (the phash scenario rows below)
# ---------------------------------------------------------------------------


def _phash_stream_sigs(
    spark: SparkSession, sf_dir: str, new_side: bool
) -> DataFrame:
    """(doc_id, phash) hash relations for the incremental image-dedup
    queries: the SAME image geometry and twin classes as
    multimodal_phash_neardup, hashed from the text-derived pixel
    stream DIRECTLY (no codec round-trip: PNG/BMP are lossless, so
    decode(encode(px)) == px — proven by that query's codec-parity
    legs; the index queries measure the INDEX, not the codecs).
    new_side=False yields the originals (the already-ingested
    corpus); new_side=True yields the brightness / re-encode / tweak
    twins (today's crawl)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") == F.octet_length("text"))
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            ids, hashes = [], []

            def emit(img_id, px, w, h):
                ids.append(img_id)
                hashes.append(M.phash64(px, w, h))

            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(doc_id)
                raw = text.encode("utf-8")
                if not raw:
                    continue
                w, h = 4 + i % 3, 4 + i % 2
                k = w * h
                px = (raw * (k // len(raw) + 1))[:k]
                if not new_side:
                    emit(i, px, w, h)
                    continue
                if i % 10 == 0:
                    emit(i + 1000000,
                         bytes(min(v + 8, 255) for v in px), w, h)
                if i % 20 == 0:
                    emit(i + 2000000, px, w, h)
                if i % 25 == 0:
                    emit(i + 3000000,
                         bytes([min(px[0] + 2, 255)]) + px[1:], w, h)
            yield pd.DataFrame({"doc_id": ids, "phash": hashes})

    return d.mapInPandas(batches, "doc_id long, phash long")






# ---------------------------------------------------------------------------
# persisted-index scenarios: one table row per registered query
# ---------------------------------------------------------------------------

# IVFADC+R candidate depth: R/k = 4 — the "small R" regime where the
# exact tier costs R extra vector reads per query but recovers most of
# the 4-bit quantization loss (Jégou et al. 2011 §V-D measure the same
# shape at R/k 2-10).
_RERANK_R = 40
_EVEN = "WHERE vec_id % 2 = 0"  # the seed set of an appended index
_FULL_E = (
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
)


class _Build(NamedTuple):
    """One persisted index build, mutations included. Scenarios whose
    specs are equal share one build per process (_index)."""

    layout: str  # a plans/storage._LAYOUTS key (and a _KINDS key)
    train: int = 0  # PQ codebook Lloyd iterations
    coarse: int = 0  # coarse-centroid Lloyd iterations
    residual: bool = False  # IVF-PQ codes quantize v - centroid
    append: bool = False  # build over the even ids, append the odd ids
    keep: str = ""  # takedown: SQL over id `{d}`, true for the ids kept
    compact: bool = False  # then fold the append delta into the base


class _Scenario(NamedTuple):
    """One registered query over a persisted index: the build, one
    probe (the single query vec_id 0, or a batch of `q` ids from
    `q_lo`), and optionally its recall@k against the exact squared-L2
    top-k over the same population. The oracle is the layout's
    replay generator fed from the same fields."""

    name: str
    build: _Build
    bench: bool = False
    q: int = 0
    q_lo: int = 0
    k: int = 10
    rerank: int = 0  # exact re-rank depth R (PQ and IVF-PQ)
    recall: str = ""  # the recall side's method name
    vs: tuple = ()  # (method, build, rerank): a second side, listed first
    sort: bool = False  # order the batch probe's rows by (qid, rank)


def _sides(s: _Scenario) -> tuple:
    own = ((s.recall, s.build, s.rerank),) if s.recall else ()
    return ((s.vs,) if s.vs else ()) + own


def _q_where(s: _Scenario) -> str:
    if not s.q:
        return ""
    top = f"vec_id < {s.q_lo + s.q}"
    return f"vec_id >= {s.q_lo} AND {top}" if s.q_lo else top


def _index(spark: SparkSession, sf_dir: str, b: _Build) -> str:
    """The committed index `b` describes, built on first use."""
    return _persisted_index(b, sf_dir, lambda p: _write(spark, sf_dir, b, p))


def _write(spark: SparkSession, sf_dir: str, b: _Build, path: str) -> None:
    kind, lay = _KINDS[b.layout], ST._LAYOUTS[b.layout]
    src, idc = kind.source(spark, sf_dir), kind.idc
    docs = (load_table(spark, sf_dir, "documents"),) if lay.gated else ()
    params = (("n_cells", _N_CELLS if lay.cells else 0),
              ("train_iterations", b.train),
              ("coarse_train_iterations", b.coarse), ("residual", b.residual))
    half = F.col(idc) % 2
    kind.write(*docs, src.filter(half == 0) if b.append else src, path,
               **{k: v for k, v in params if v})
    if b.append:
        kind.append(*docs, src.filter(half == 1), path)
    if b.keep:
        taken = src.filter(~F.expr(b.keep.format(d=idc))).select(idc)
        ST.delete_from_index(taken, path)
    # an explicit raise, not an assert: `python -O` strips the assert
    # statement call included, and the query would serve base + delta
    if b.compact and ST.compact_index(spark, path) is not True:
        raise RuntimeError(f"compact_index found nothing to fold at {path!r}")


def _expect(b: _Build) -> dict | None:
    """What a probe of `b` pins beyond its layout's geometry pin (which
    every probe checks): the build's own parameters and, for gated
    layouts, the eligibility gate the oracle's `_OK_CTE` replays."""
    lay = ST._LAYOUTS[b.layout]
    pq = "codebook" in lay.quantizers
    pins: dict = {"n_cells": _N_CELLS} if lay.cells else {}
    if lay.gated:
        pins.update(min_chars=200, lang="en")
    if pq:
        pins["pq_train_iters"] = b.train
    if pq and lay.cells:  # IVF-PQ: raw or residual codes
        pins["residual"] = b.residual
    if lay.cells:
        pins["coarse_train_iters"] = b.coarse
    return pins or None


def _seed(b: _Build) -> str:
    """The quantizer seed set's SQL suffix: an appended index keeps the
    quantizers its even-id base build seeded."""
    return _EVEN if b.append else ""


# The replays of one probe of scenario `s` against build `b`, per layout.

def _ivf_replay(s: _Scenario, b: _Build, rerank: int) -> str:
    return _filtered_ivf_oracle(
        s.k, _seed(b), b.coarse, s.k if s.q else None, _q_where(s)
    )


def _ivfpq_replay(s: _Scenario, b: _Build, rerank: int) -> str:
    return _ivfpq_oracle(s.k, _seed(b), s.k if s.q else None, b.residual,
                         b.train, b.coarse, rerank, _q_where(s))


def _pq_replay(s: _Scenario, b: _Build, rerank: int) -> str:
    seed = _seed(b)
    return _pq_oracle(
        where=f"WHERE {b.keep.format(d='enc.vec_id')}" if b.keep else "",
        limit=s.k,
        q_sql=(f"SELECT vec_id AS qid, v AS qv FROM e WHERE {_q_where(s)}"
               if s.q else "SELECT v AS qv FROM e WHERE vec_id = 0"),
        cb_src=f"(SELECT * FROM e {seed})" if seed else "e",
        batch_k=s.k if s.q else None, trained_iters=b.train, rerank=rerank,
    )


def _sq_replay(s: _Scenario, b: _Build, rerank: int) -> str:
    return _sq_oracle(s.k, _q_where(s), ST._LAYOUTS[b.layout].cells, b.coarse)


def _sq_recall_q(s: _Scenario, b: _Build) -> tuple[str, str]:
    """The SQ and IVF-SQ single-query recall pieces (CTEs, probe), which
    score the recall skeleton's own `q` instead of a whole replay."""
    if ST._LAYOUTS[b.layout].cells:
        return f"{_sq_ctes()},{_ivfsq_ctes(b.coarse)}", _ivfsq_probe_sql(s.k)
    return _sq_ctes(), _sq_probe_sql(s.k)


def _band_replay(s: _Scenario, b: _Build, rerank: int) -> str:
    old = "{d} < 1000000"
    return _incremental_oracle(f"({old} AND {b.keep})" if b.keep else old)


def _phash_replay(s: _Scenario, b: _Build, rerank: int) -> str:
    keep = f"{b.keep.format(d='a.id')} AND " if b.keep else ""
    return _PHASH_HEAD + _phash_tail(
        f"a.id < 1000000 AND {keep}b.id >= 1000000"
    )


def _recall_oracle(s: _Scenario, method: str, b: _Build, rerank: int) -> str:
    kind = _KINDS[b.layout]
    e = _FILTERED_E_SQL if ST._LAYOUTS[b.layout].gated else _FULL_E
    if s.q:
        return _batch_l2_recall_oracle(
            method, e, kind.replay(s, b, rerank), k=s.k, n_queries=s.q,
            q_where=_q_where(s),
        )
    if kind.recall_q:
        ctes, probe = kind.recall_q(s, b)
        return _l2_recall_oracle(method, f"{e},{ctes}", probe, k=s.k)
    return _l2_recall_oracle(method, e, kind.replay(s, b, rerank), k=s.k)


def _oracle(s: _Scenario) -> str:
    if not s.recall:
        return _KINDS[s.build.layout].replay(s, s.build, s.rerank)
    sides = [(m, _recall_oracle(s, m, sb, rr)) for m, sb, rr in _sides(s)]
    if len(sides) == 1:
        return sides[0][1]
    union = "\n    UNION ALL\n    ".join(
        f"SELECT * FROM ({sql}) {m.rsplit('_', 1)[1]}_side" for m, sql in sides
    )
    return f"\n    {union}\n    ORDER BY method\n    "


def _band_serve(s: _Scenario, spark: SparkSession, sf_dir: str) -> DataFrame:
    _, new = _incremental_split(spark, sf_dir)
    path = _index(spark, sf_dir, s.build)
    pairs = ST.incremental_neardup_pairs_indexed(new, path, threshold=0.5)
    out = _incremental_status(ST.band_index_sha_set(spark, path), new, pairs)
    return D.pin(out, pairs)


def _phash_serve(s: _Scenario, spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _index(spark, sf_dir, s.build)
    new = _phash_stream_sigs(spark, sf_dir, new_side=True)
    return ST.incremental_phash_pairs_indexed(new, path, max_hamming=3)


def _vector_serve(s: _Scenario, spark: SparkSession, sf_dir: str) -> DataFrame:
    lay = ST._LAYOUTS[s.build.layout]
    emb = _embeddings(spark, sf_dir)
    if s.q:
        ids = F.col("vec_id") < s.q_lo + s.q
        if s.q_lo:
            ids = (F.col("vec_id") >= s.q_lo) & ids
        q = emb.filter(ids).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
    else:
        q = emb.filter(F.col("vec_id") == 0)
    probe = getattr(ST, lay.batch if s.q else lay.probe)
    probes = []
    for _, b, rerank in _sides(s) or (("", s.build, s.rerank),):
        kw: dict = {"nprobe": _NPROBE} if lay.cells else {}
        if rerank:
            kw.update(rerank=rerank, rerank_source=emb)
        probes.append(probe(spark, _index(spark, sf_dir, b), q, k=s.k,
                            expect=_expect(b), **kw))
    if not s.recall and not s.sort:
        return probes[0]
    if not s.recall:
        # a batch probe's query relation is finalizer-tied to its
        # handle: a plan built on top must pin it (the D.pin rule)
        return D.pin(probes[0].orderBy("qid", "rank"), probes[0])
    e = _filtered_eligible(spark, sf_dir) if lay.gated else emb
    if s.q:
        exact = S.topk_l2_bruteforce_batch(e, q, k=s.k)
        outs = [_recall_result_batch(p, exact, m, total=s.k * s.q)
                for (m, _, _), p in zip(_sides(s), probes)]
    else:
        exact = S.topk_l2_bruteforce(e, q, k=s.k)
        outs = [_recall_result(p, exact, m, k=s.k)
                for (m, _, _), p in zip(_sides(s), probes)]
    out = outs[0] if len(outs) == 1 else (
        outs[0].unionByName(outs[1]).orderBy("method")
    )
    return D.pin(out, *probes)


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


class _Kind(NamedTuple):
    """How the scenarios over one layout build, replay and serve."""

    write: Callable  # the plans/storage builder
    append: Callable  # and its appender
    replay: Callable  # (scenario, build, rerank) -> one probe's oracle SQL
    source: Callable = _embeddings  # (spark, sf_dir) -> the build input
    idc: str = "vec_id"  # the build input's id column
    serve: Callable = _vector_serve  # (scenario, spark, sf_dir) -> DataFrame
    recall_q: Callable | None = None  # _sq_recall_q, on the SQ layouts


_KINDS = {
    "band": _Kind(
        ST.write_band_index, ST.append_to_band_index, _band_replay,
        lambda spark, sf_dir: _incremental_split(spark, sf_dir)[0],
        "doc_id", _band_serve,
    ),
    "phash": _Kind(
        ST.write_phash_index, ST.append_to_phash_index, _phash_replay,
        partial(_phash_stream_sigs, new_side=False), "doc_id", _phash_serve,
    ),
    "ivf": _Kind(
        ST.write_filtered_ivf_index, ST.append_to_ivf_index, _ivf_replay
    ),
    "pq": _Kind(ST.write_pq_index, ST.append_to_pq_index, _pq_replay),
    "sq": _Kind(ST.write_sq_index, ST.append_to_sq_index, _sq_replay,
                recall_q=_sq_recall_q),
    "ivfsq": _Kind(ST.write_ivfsq_index, ST.append_to_ivfsq_index,
                   _sq_replay, recall_q=_sq_recall_q),
    "ivfpq": _Kind(ST.write_ivfpq_index, ST.append_to_ivfpq_index,
                   _ivfpq_replay),
}


_FIVF = _Build("ivf", coarse=_CTR_ITERS)
_PQ = _Build("pq", train=_TRAINED_ITERS)
_PQ_APPEND = _Build("pq", append=True)
_IVFPQ = _Build("ivfpq", train=_TRAINED_ITERS, coarse=_CTR_ITERS)
_IVFPQ_RES = _Build("ivfpq", residual=True)
_FTR = _IVFPQ._replace(residual=True)  # both quantizers trained, residual
_SQ = _Build("sq")
_IVFSQ = _Build("ivfsq", coarse=_CTR_ITERS)
_BAND = _Build("band")  # the old corpus of _incremental_split
_PHASH = _Build("phash", append=True)  # the original images' hashes

# Serving builds are trained (production ships trained quantizers);
# the seed-only builds stay as comparison fixtures. Appends and
# takedowns commit through the same path as the base build, so a wrong
# append (re-derived quantizer, missed gate, visible torn delta) or an
# ignored tombstone hash-mismatches its oracle. Recall rows measure
# against the exact squared-L2 top-k (the distance ADC approximates)
# over the population the index holds. Single-query recall moves in
# 1/k steps, so the batch gauges (Q = 8, or 16 ids from 100, disjoint
# from the lowest-id centroid seeds) are the ones that resolve a
# training or re-rank effect.
_SCENARIOS = (
    # text near-dup of a new batch against the persisted band index of
    # the old corpus (never re-scanned); the takedown tombstones every
    # 40th old doc, so a batch doc whose only partner went reads unique
    _Scenario("incremental_dedup_indexed", _BAND, bench=True),
    _Scenario("incremental_dedup_deleted", _BAND._replace(keep="{d} % 40 != 0")),
    # filtered IVF: the gate and centroids are paid at build; a probe
    # scans only nprobe `cell=` partitions of eligible vectors
    _Scenario("ivf_index_probe", _FIVF, bench=True),
    _Scenario("ivf_append_probe", _Build("ivf", append=True), bench=True),
    _Scenario("ivf_batch_probe", _FIVF, bench=True, q=3, k=5, sort=True),
    # PQ: probes scan only the 8-byte codes; the takedown drops id 0
    # (the query vector itself, whose own code ranks first) and id 3
    _Scenario("pq_index_probe", _PQ, bench=True),
    _Scenario("pq_append_probe", _PQ_APPEND, bench=True),
    _Scenario("pq_deleted_probe", _Build("pq", keep="{d} NOT IN (0, 3)")),
    _Scenario("pq_batch_probe", _PQ, bench=True, q=3, k=5),
    # IVF-PQ: cell pruning times code-only scans; residual = IVFADC
    _Scenario("ivfpq_probe", _IVFPQ, bench=True),
    _Scenario("ivfpq_append_probe", _Build("ivfpq", append=True), bench=True),
    _Scenario("pq_compacted_probe", _PQ_APPEND._replace(compact=True)),
    _Scenario("ivfpq_batch_probe", _IVFPQ, bench=True, q=3, k=5),
    _Scenario("ivfpq_residual_probe", _IVFPQ_RES, bench=True),
    _Scenario("pq_index_recall", _PQ, recall="pq_adc"),
    _Scenario("ivfpq_recall", _IVFPQ, recall="ivfpq"),
    _Scenario("ivfpq_residual_recall", _IVFPQ_RES, recall="ivfpq_residual"),
    _Scenario("pq_trained_recall", _PQ, q=_TRAINED_Q, recall="pq_adc_trained"),
    _Scenario("ivfpq_trained_recall", _IVFPQ_RES._replace(train=_TRAINED_ITERS),
              recall="ivfpq_trained"),
    # SQ8: 8 bits per dimension, near-exact recall at 4-8x less IO
    _Scenario("sq_index_probe", _SQ, bench=True),
    _Scenario("sq_recall", _SQ, recall="sq"),
    _Scenario("sq_batch_probe", _SQ, bench=True, q=3, k=5, sort=True),
    # image near-dup of the planted twins against the persisted pHash
    # index (probes read base + delta); the takedown drops every 30th
    _Scenario("incremental_image_dedup_indexed", _PHASH, bench=True),
    _Scenario("incremental_image_dedup_deleted",
              _PHASH._replace(keep="{d} % 30 != 0")),
    # IVF-SQ8; the trained gauge serves one batch from seed and trained
    # centroids at the same geometry
    _Scenario("ivfsq_probe", _IVFSQ, bench=True),
    _Scenario("ivfsq_recall", _IVFSQ, recall="ivfsq"),
    _Scenario("ivfsq_batch_probe", _IVFSQ, bench=True, q=3, k=5, sort=True),
    _Scenario("ivfsq_trained_recall", _IVFSQ, q=_CTR_Q, q_lo=100,
              recall="ivfsq_trained",
              vs=("ivfsq_seed", _IVFSQ._replace(coarse=0), 0)),
    # IVFADC+R: the top-R ADC candidates re-ranked by exact L2 on raw
    # vectors; what remains of the error is nprobe cell pruning
    _Scenario("ivfpq_fully_trained_recall", _FTR, recall="ivfpq_fully_trained"),
    _Scenario("ivfpq_rerank_probe", _FTR, bench=True, rerank=_RERANK_R),
    _Scenario("ivfpq_rerank_recall", _FTR, rerank=_RERANK_R,
              recall="ivfpq_rerank"),
    _Scenario("pq_rerank_recall", _PQ, rerank=_RERANK_R, recall="pq_rerank"),
    _Scenario("ivfpq_batch_rerank", _IVFPQ, q=3, k=5, rerank=20),
    _Scenario("ivfpq_residual_batch_probe", _IVFPQ_RES, q=3, k=5),
    _Scenario("ivfpq_residual_batch_rerank", _FTR, q=3, k=5, rerank=20),
    _Scenario("ivfpq_rerank_batch_recall", _FTR, q=_CTR_Q, q_lo=100,
              rerank=_RERANK_R, recall="ivfpq_ftr_rerank",
              vs=("ivfpq_ftr_adc", _FTR, 0)),
)

for _s in _SCENARIOS:
    query(_s.name, oracle=_oracle(_s), bench=_s.bench)(
        partial(_KINDS[_s.build.layout].serve, _s)
    )
