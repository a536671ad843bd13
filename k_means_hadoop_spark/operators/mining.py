"""Graph-mining, text-mining, and embedding operators
(beyond-reference — SURVEY.md §2.9): HITS hubs/authorities on the
customer-part bipartite graph, personalized PageRank, resource-
allocation and Adamic-Adar link prediction, local clustering
coefficients and degree assortativity on the co-purchase graph,
Flesch readability, per-document character entropy, MATTR lexical
diversity, stupid-backoff trigram scores, Monroe log-odds terms per
language, negative-sampling pairs, and a Johnson-Lindenstrauss sign
random projection.

Determinism conventions as in operators/trends.py; the iterative HITS
scores are re-stabilized to DECIMAL(18,6) after every normalization
(the power_iteration_pc1 / pagerank discipline), so decimal sums stay
exact and order-free on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from k_means_hadoop_spark.functions.hashing import stable_hash64, stable_hash64_sql
from k_means_hadoop_spark.operators.analytics import (
    _EDGES_CTE,
    _GRAPH_MAX_PART,
    _copurchase_edges,
)
from k_means_hadoop_spark.operators.relational import _t
from k_means_hadoop_spark.operators.trends import _FL6_SQL, _fl6

from k_means_hadoop_spark.partitioning import truncate_lineage, truncate_lineage_lazy

# --------------------------------------------- HITS hubs/authorities
#
# Kleinberg's HITS (1999) on the bipartite customer->part purchase
# graph: authority(p) = Σ hub(c) over buyers, hub(c) = Σ authority(p)
# over bought parts, each vector max-normalized per half-step.  Scores
# are DECIMAL(18,6), re-stabilized after every normalization, so the
# Σs are exact and the unrolled DuckDB CTE is a full value oracle.
# Each iteration costs one edge-grain join + a part/customer-grain
# agg — the edge list is the only corpus-derived table.

_HITS_ITERS = 3


def _hits_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") <= _GRAPH_MAX_PART)
        .select("l_orderkey", "l_partkey")
    )
    # Materialize the edge list once: every HITS half-step re-reads it,
    # and without truncation each of the ~7 iteration jobs would re-run
    # the corpus scan + join + distinct.  (At production scale this is
    # the same design: derive edges once, iterate over the materialized
    # edge table.)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .transform(truncate_lineage)
    )


def _renorm(df: DataFrame, key: str, col: str) -> DataFrame:
    """max-normalize and re-stabilize to DECIMAL(18,6).  The result is
    node-sized, and its plan embeds the prior iteration TWICE (main
    tree + the max-agg subtree), so without truncation the lineage
    doubles per half-step (~2^6x work over 3 rounds) — eager
    localCheckpoint keeps every round O(one edge join), the
    label_prop/bfs pattern."""
    mx = df.agg(F.max(col).alias("mx"))
    return (
        df.crossJoin(F.broadcast(mx))
        .select(
            key,
            _fl6(F.col(col).cast("double") / F.col("mx").cast("double"))
            .cast("decimal(18,6)")
            .alias(col),
        )
        .transform(truncate_lineage)
    )


def hits_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p, authority) — part authority scores after {it} HITS rounds
    from the uniform hub start on the id-bounded bipartite purchase
    graph (nodes: customers x parts <= {maxp})."""
    e = _hits_edges(spark, sf_dir)
    h = e.select("c").distinct().withColumn(
        "hub", F.lit(1).cast("decimal(18,6)")
    )
    for _ in range(_HITS_ITERS):
        a = (
            e.join(h, "c")
            .groupBy("p")
            .agg(F.sum("hub").cast("decimal(18,6)").alias("authority"))
        )
        a = _renorm(a, "p", "authority")
        h = (
            e.join(a, "p")
            .groupBy("c")
            .agg(F.sum("authority").cast("decimal(18,6)").alias("hub"))
        )
        h = _renorm(h, "c", "hub")
    a_final = (
        e.join(h, "c")
        .groupBy("p")
        .agg(F.sum("hub").cast("decimal(18,6)").alias("authority"))
    )
    a_final = _renorm(a_final, "p", "authority")
    return a_final.select(
        F.col("p").cast("bigint").alias("p"),
        F.col("authority").cast("double").alias("authority"),
    )


hits_copurchase.__doc__ = hits_copurchase.__doc__.format(
    it=_HITS_ITERS, maxp=_GRAPH_MAX_PART
)


def _hits_sql() -> str:
    fl6 = _FL6_SQL
    parts = [
        """e AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_partkey <= {maxp}),
h0 AS (SELECT DISTINCT c, CAST(1 AS DECIMAL(18,6)) AS hub FROM e)""".format(
            maxp=_GRAPH_MAX_PART
        )
    ]
    prev_h = "h0"
    for i in range(1, _HITS_ITERS + 1):
        norm_a = fl6.format(x="CAST(authority AS DOUBLE) / CAST(mx AS DOUBLE)")
        norm_h = fl6.format(x="CAST(hub AS DOUBLE) / CAST(mx AS DOUBLE)")
        parts.append(
            f"""ar{i} AS (SELECT p, CAST(sum(hub) AS DECIMAL(18,6)) AS authority
  FROM e JOIN {prev_h} USING (c) GROUP BY p),
a{i} AS (SELECT p, CAST({norm_a} AS DECIMAL(18,6)) AS authority
  FROM ar{i} CROSS JOIN (SELECT max(authority) AS mx FROM ar{i})),
hr{i} AS (SELECT c, CAST(sum(authority) AS DECIMAL(18,6)) AS hub
  FROM e JOIN a{i} USING (p) GROUP BY c),
h{i} AS (SELECT c, CAST({norm_h} AS DECIMAL(18,6)) AS hub
  FROM hr{i} CROSS JOIN (SELECT max(hub) AS mx FROM hr{i}))"""
        )
        prev_h = f"h{i}"
    norm_f = fl6.format(x="CAST(authority AS DOUBLE) / CAST(mx AS DOUBLE)")
    parts.append(
        f"""af AS (SELECT p, CAST(sum(hub) AS DECIMAL(18,6)) AS authority
  FROM e JOIN {prev_h} USING (c) GROUP BY p)"""
    )
    return (
        "WITH "
        + ", ".join(parts)
        + f""" SELECT p::BIGINT AS p,
       CAST(CAST({norm_f} AS DECIMAL(18,6)) AS DOUBLE) AS authority
FROM af CROSS JOIN (SELECT max(authority) AS mx FROM af)"""
    )


# --------------------------------------------- resource allocation
#
# Link prediction on the co-purchase graph (Zhou, Lü & Zhang 2009):
# for NON-adjacent part pairs sharing neighbors, RA(u,v) =
# Σ_{z in N(u)∩N(v)} 1/deg(z).  The 1/deg terms are quantized ONCE to
# exact integers (10^12 DIV deg — integer division on both engines),
# so the Σ is an exact BIGINT and the top-k is deterministic.
# Candidates come from the common-neighbor equi-join (never all
# pairs); the anti-join removes existing edges.

_RA_SCALE = 10**12
_RA_TOP = 50


def resource_allocation_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, n_common, ra) — top-{k} predicted links.  Plan: neighbor
    lists self-join on the shared node z (shuffle ∝ Σ deg(z)²; bounded
    subgraph), minus existing edges via one anti-join."""
    e = _copurchase_edges(spark, sf_dir)
    nbrs = e.select(
        F.col("pa").alias("node"), F.col("pb").alias("nbr")
    ).unionByName(e.select(F.col("pb").alias("node"), F.col("pa").alias("nbr")))
    deg = nbrs.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    # inverse-degree weight, quantized to an exact integer once
    wz = deg.select(
        F.col("node").alias("z"),
        F.expr(f"CAST({_RA_SCALE} AS BIGINT) DIV deg").alias("w"),
    )
    n1 = nbrs.select(F.col("nbr").alias("u"), F.col("node").alias("z"))
    n2 = nbrs.select(F.col("nbr").alias("v"), F.col("node").alias("z2"))
    cand = (
        n1.join(n2, (F.col("z") == F.col("z2")) & (F.col("u") < F.col("v")))
        .join(F.broadcast(wz), "z")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("w").alias("ra_scaled"),
        )
    )
    new_links = cand.join(
        e,
        (cand.u == e.pa) & (cand.v == e.pb),
        "left_anti",
    )
    w = Window.orderBy(F.col("ra_scaled").desc(), F.col("u"), F.col("v"))
    return (
        new_links.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RA_TOP)
        .select(
            "u",
            "v",
            "n_common",
            _fl6(
                F.col("ra_scaled").cast("double") / F.lit(float(_RA_SCALE))
            ).alias("ra"),
        )
    )


resource_allocation_links.__doc__ = resource_allocation_links.__doc__.format(
    k=_RA_TOP
)

RA_SQL = (
    "WITH "
    + _EDGES_CTE.strip()
    + """,
nbrs AS (SELECT pa AS node, pb AS nbr FROM e
         UNION ALL SELECT pb, pa FROM e),
deg AS (SELECT node, count(*)::BIGINT AS deg FROM nbrs GROUP BY 1),
wz AS (SELECT node AS z, {scale}::BIGINT // deg AS w FROM deg),
cand AS (
  SELECT n1.nbr AS u, n2.nbr AS v,
         count(*)::BIGINT AS n_common, sum(w)::BIGINT AS ra_scaled
  FROM nbrs n1 JOIN nbrs n2 ON n2.node = n1.node AND n1.nbr < n2.nbr
  JOIN wz ON wz.z = n1.node
  GROUP BY 1, 2),
new_links AS (
  SELECT * FROM cand
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.pa = cand.u AND e.pb = cand.v))
SELECT u, v, n_common,
       {ra} AS ra
FROM new_links
ORDER BY ra_scaled DESC, u, v
LIMIT {k}
""".format(
        scale=_RA_SCALE,
        k=_RA_TOP,
        ra=_FL6_SQL.format(
            x=f"CAST(ra_scaled AS DOUBLE) / CAST({_RA_SCALE} AS DOUBLE)"
        ),
    )
)


# --------------------------------------------- Flesch readability

_READ_MAX_DOC = 200


def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_words, n_sentences, n_syllables, flesch, fk_grade)
    for latin-script docs with doc_id < {cap}.  Syllables = vowel-run
    count per word (the standard dictionary-free heuristic), sentences
    = terminal-punctuation runs; both via one regexp pass.  Docs with
    zero [a-z] words (e.g. zh) are excluded on both engines.  The two
    scores are identical literal expression trees over exact ints."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _READ_MAX_DOC)
        .select(
            "doc_id",
            F.expr(
                "greatest(1, size(regexp_extract_all(text, '[.!?]+', 0)))"
            ).alias("s"),
            F.expr(
                "regexp_extract_all(lower(text), '[a-z]+', 0)"
            ).alias("words"),
        )
    )
    per_word = d.select(
        "doc_id",
        "s",
        F.explode("words").alias("word"),
    ).select(
        "doc_id",
        "s",
        F.expr(
            "greatest(1, size(regexp_extract_all(word, '[aeiouy]+', 0)))"
        ).alias("syl"),
    )
    g = per_word.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("w"),
        F.max("s").alias("s"),
        F.sum("syl").alias("sy"),
    )
    flesch = (
        "CAST(206.835 AS DOUBLE)"
        " - CAST(1.015 AS DOUBLE) * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))"
        " - CAST(84.6 AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE))"
    )
    fk = (
        "CAST(0.39 AS DOUBLE) * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))"
        " + CAST(11.8 AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE))"
        " - CAST(15.59 AS DOUBLE)"
    )
    return g.select(
        "doc_id",
        F.col("w").cast("bigint").alias("n_words"),
        F.col("s").cast("bigint").alias("n_sentences"),
        F.col("sy").cast("bigint").alias("n_syllables"),
        _fl6(F.expr(flesch)).alias("flesch"),
        _fl6(F.expr(fk)).alias("fk_grade"),
    )


readability_scores.__doc__ = readability_scores.__doc__.format(
    cap=_READ_MAX_DOC
)

_READ_FLESCH = (
    "CAST(206.835 AS DOUBLE)"
    " - CAST(1.015 AS DOUBLE) * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))"
    " - CAST(84.6 AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE))"
)
_READ_FK = (
    "CAST(0.39 AS DOUBLE) * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))"
    " + CAST(11.8 AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE))"
    " - CAST(15.59 AS DOUBLE)"
)

READABILITY_SQL = """
WITH d AS (SELECT doc_id,
                  greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
                  regexp_extract_all(lower(text), '[a-z]+') AS words
           FROM documents WHERE doc_id < {cap}),
w0 AS (SELECT doc_id, s, unnest(words) AS word FROM d),
per_word AS (SELECT doc_id, s,
                    greatest(1, len(regexp_extract_all(word, '[aeiouy]+'))) AS syl
             FROM w0),
g AS (SELECT doc_id, count(*)::BIGINT AS w, max(s)::BIGINT AS s,
             sum(syl)::BIGINT AS sy
      FROM per_word GROUP BY 1)
SELECT doc_id, w AS n_words, s AS n_sentences, sy AS n_syllables,
       {flesch} AS flesch,
       {fk} AS fk_grade
FROM g
""".format(
    cap=_READ_MAX_DOC,
    flesch=_FL6_SQL.format(x=_READ_FLESCH),
    fk=_FL6_SQL.format(x=_READ_FK),
)


# --------------------------------------------- character entropy

_ENT_MAX_DOC = 200


def char_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_letters, distinct_chars, entropy) — Shannon entropy
    (nats) of each doc's [a-z] letter distribution, doc_id < {cap}.
    The <= 26-term -p·ln p sum rounds at 6dp far above float
    reassociation noise (the source_lang_entropy argument)."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _ENT_MAX_DOC)
        .select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]', 0)")
            ).alias("ch"),
        )
    )
    counts = d.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(Window.partitionBy("doc_id"))
    p = F.col("n").cast("double") / F.col("tot").cast("double")
    return (
        counts.withColumn("tot", tot)
        .select("doc_id", "n", (-(p * F.log(p))).alias("term"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_letters"),
            F.count(F.lit(1)).cast("bigint").alias("distinct_chars"),
            F.round(F.sum("term"), 6).alias("entropy"),
        )
    )


char_entropy_docs.__doc__ = char_entropy_docs.__doc__.format(cap=_ENT_MAX_DOC)

CHAR_ENTROPY_SQL = """
WITH chars AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]')) AS ch
               FROM documents WHERE doc_id < {cap}),
counts AS (SELECT doc_id, ch, count(*)::BIGINT AS n FROM chars GROUP BY 1, 2),
wt AS (SELECT doc_id, n, sum(n) OVER (PARTITION BY doc_id) AS tot FROM counts)
SELECT doc_id, sum(n)::BIGINT AS n_letters, count(*)::BIGINT AS distinct_chars,
       round(sum(-(n::DOUBLE / tot::DOUBLE) * ln(n::DOUBLE / tot::DOUBLE)), 6) AS entropy
FROM wt GROUP BY doc_id
""".format(cap=_ENT_MAX_DOC)


# --------------------------------------------- JL random projection
#
# Sign (Achlioptas 2003) random projection of the d=64 embeddings to
# m=16 dims: proj_j = (1/sqrt(m)) Σ_i sign(i,j)·x_i with md5-derived
# ±1 signs — the database-friendly JL transform (no dense Gaussian
# matrix to ship; the sign matrix is a 1024-row broadcast literal
# derivable on any engine).  Components are rounded to 9dp decimal
# first, so the Σ is exact and order-free; 1/sqrt(16) = 0.25 is a
# power of two, so the final scale is lossless.

_JL_M = 16
_JL_MAX_VEC = 100


def random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, j, proj) — 16-dim sign projection of embeddings with
    vec_id < {cap}.  Plan: posexplode -> broadcast-join the (i, j,
    sign) table -> (vec_id, j) partial agg; shuffle carries m rows per
    vector."""
    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _JL_MAX_VEC)
        .select("vec_id", "embedding")
    )
    d = emb.first()
    dim = len(d["embedding"]) if d else 0
    # JL_SQL pins the sign-matrix i-range at range(0, 64); a fixture
    # with dim > 64 would silently drop components i >= 64 from the
    # oracle while Spark keeps them (r6 ADVICE) — fail loudly instead.
    assert dim in (0, 64), (
        f"random_projection_jl: embedding dim {dim} != 64; JL_SQL's "
        "sign-matrix range must be regenerated to match"
    )
    x9 = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double"), 9).cast("decimal(18,9)"),
    )
    expl = emb.select("vec_id", F.posexplode(x9).alias("i", "x"))
    signs = (
        spark.range(dim)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(
            spark.range(_JL_M).select(F.col("id").cast("int").alias("j"))
        )
        .select(
            "i",
            "j",
            (
                1
                - 2
                * (
                    stable_hash64(
                        F.concat_ws(":", F.lit("jl"), F.col("i"), F.col("j"))
                    )
                    % 2
                )
            ).cast("int").alias("sign"),
        )
    )
    proj = (
        expl.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("sign") * F.col("x")).alias("s"))
    )
    return proj.select(
        "vec_id",
        F.col("j").cast("int").alias("j"),
        _fl6(F.lit(0.25) * F.col("s").cast("double")).alias("proj"),
    )


random_projection_jl.__doc__ = random_projection_jl.__doc__.format(
    cap=_JL_MAX_VEC
)

JL_SQL = """
WITH expl AS (
  SELECT vec_id,
         (generate_subscripts(embedding, 1) - 1)::INT AS i,
         CAST(round(CAST(unnest(embedding) AS DOUBLE), 9) AS DECIMAL(18,9)) AS x
  FROM embeddings WHERE vec_id < {cap}),
signs AS (
  SELECT i, j,
         (1 - 2 * ({h} % 2))::INT AS sign
  FROM (SELECT unnest(range(0, 64))::INT AS i),
       (SELECT unnest(range(0, {m}))::INT AS j)),
proj AS (
  SELECT vec_id, j, sum(sign * x) AS s
  FROM expl JOIN signs USING (i)
  GROUP BY 1, 2)
SELECT vec_id, j::INT AS j,
       {p} AS proj
FROM proj
""".format(
    cap=_JL_MAX_VEC,
    m=_JL_M,
    h=stable_hash64_sql("'jl' || ':' || i::VARCHAR || ':' || j::VARCHAR"),
    p=_FL6_SQL.format(x="CAST(0.25 AS DOUBLE) * CAST(s AS DOUBLE)"),
)


# --------------------------------------------- degree assortativity
#
# Newman (2002) degree assortativity of the co-purchase graph over the
# multiset of DIRECTED edge endpoints (each undirected edge counted in
# both directions, so the endpoint marginals are symmetric and the
# Pearson collapses to ONE division):
#   r = (M·Σjk - (Σj)²) / (M·Σj² - (Σj)²).


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (m_directed, sum_j, sum_jk, sum_j2, assortativity) —
    do high-degree parts co-purchase with high-degree parts?  One
    degree join per edge side + a constant-size reduce."""
    e = _copurchase_edges(spark, sf_dir)
    both = e.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionByName(
        e.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("u").alias("du_key"), F.col("deg").alias("j"))
    dv = deg.select(F.col("u").alias("dv_key"), F.col("deg").alias("k"))
    pairs = both.join(F.broadcast(du), both.u == du.du_key).join(
        F.broadcast(dv), both.v == dv.dv_key
    )

    def d38(c):
        return c.cast("decimal(38,0)")

    g = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("j").alias("sj"),
        F.sum(d38(F.col("j")) * d38(F.col("k"))).alias("sjk"),
        F.sum(d38(F.col("j")) * d38(F.col("j"))).alias("sj2"),
    )
    r = (
        "CAST(CAST(m AS DECIMAL(38,0)) * sjk"
        " - CAST(sj AS DECIMAL(38,0)) * sj AS DOUBLE)"
        " / CAST(CAST(m AS DECIMAL(38,0)) * sj2"
        " - CAST(sj AS DECIMAL(38,0)) * sj AS DOUBLE)"
    )
    return g.select(
        F.col("m").cast("bigint").alias("m_directed"),
        F.col("sj").cast("bigint").alias("sum_j"),
        F.col("sjk").cast("bigint").alias("sum_jk"),
        F.col("sj2").cast("bigint").alias("sum_j2"),
        _fl6(F.expr(r)).alias("assortativity"),
    )


_ASSORT_R = (
    "CAST(CAST(m AS DECIMAL(38,0)) * sjk"
    " - CAST(sj AS DECIMAL(38,0)) * sj AS DOUBLE)"
    " / CAST(CAST(m AS DECIMAL(38,0)) * sj2"
    " - CAST(sj AS DECIMAL(38,0)) * sj AS DOUBLE)"
)

ASSORTATIVITY_SQL = (
    "WITH "
    + _EDGES_CTE.strip()
    + """,
bi AS (SELECT pa AS u, pb AS v FROM e UNION ALL SELECT pb, pa FROM e),
deg AS (SELECT u, count(*)::BIGINT AS deg FROM bi GROUP BY 1),
pairs AS (SELECT d1.deg AS j, d2.deg AS k
          FROM bi JOIN deg d1 ON d1.u = bi.u
          JOIN deg d2 ON d2.u = bi.v),
g AS (SELECT count(*)::BIGINT AS m, sum(j)::BIGINT AS sj,
             sum(j::DECIMAL(38,0) * k::DECIMAL(38,0)) AS sjk,
             sum(j::DECIMAL(38,0) * j::DECIMAL(38,0)) AS sj2
      FROM pairs)
SELECT m AS m_directed, sj AS sum_j, sjk::BIGINT AS sum_jk,
       sj2::BIGINT AS sum_j2,
       {r} AS assortativity
FROM g
""".format(r=_FL6_SQL.format(x=_ASSORT_R))
)


# --------------------------------------------- MATTR
#
# Moving-average type-token ratio (Covington & McFall 2010) with
# window W — WITHOUT materializing windows: token at position p is
# "new" in window s iff its previous occurrence < s, so it contributes
# to windows s in [max(prev+1, p-W+1, 0), min(p, n-W)] — a CLOSED-FORM
# interval length per token.  Σ distinct-counts over all windows is
# one exact-integer sum; MATTR = total / (W · (n-W+1)) is one
# division.  O(n) rows, no window explode, no quadratic join.

_MATTR_W = 50


def mattr_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, n_types, ttr, n_windows, mattr) for docs with
    >= {w} tokens.  One posexplode + one (doc, token)-partitioned lag
    window + a doc-grain reduce."""
    toks = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("pos", "token"),
    )
    wt = Window.partitionBy("doc_id", "token").orderBy("pos")
    wd = Window.partitionBy("doc_id")
    t = toks.withColumn("prev", F.lag("pos").over(wt)).withColumn(
        "n", F.count(F.lit(1)).over(wd)
    )
    t = t.filter(F.col("n") >= _MATTR_W)
    lo = F.greatest(
        F.coalesce(F.col("prev"), F.lit(-1)) + 1,
        F.col("pos") - F.lit(_MATTR_W - 1),
        F.lit(0),
    )
    hi = F.least(F.col("pos"), F.col("n") - F.lit(_MATTR_W))
    contrib = F.greatest(F.lit(0), hi - lo + 1)
    g = t.groupBy("doc_id").agg(
        F.max("n").alias("n"),
        F.sum(contrib).alias("total"),
        F.sum(F.col("prev").isNull().cast("int")).alias("n_types"),
    )
    return g.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("n_types").cast("bigint").alias("n_types"),
        _fl6(
            F.expr("CAST(n_types AS DOUBLE) / CAST(n AS DOUBLE)")
        ).alias("ttr"),
        (F.col("n") - F.lit(_MATTR_W - 1)).cast("bigint").alias("n_windows"),
        _fl6(
            F.expr(
                f"CAST(total AS DOUBLE)"
                f" / CAST({_MATTR_W} * (n - {_MATTR_W - 1}) AS DOUBLE)"
            )
        ).alias("mattr"),
    )


mattr_docs.__doc__ = mattr_docs.__doc__.format(w=_MATTR_W)

MATTR_SQL = """
WITH toks AS (
  SELECT doc_id,
         (generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) - 1)::INT AS pos,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents),
t AS (SELECT doc_id, pos, token,
             lag(pos) OVER (PARTITION BY doc_id, token ORDER BY pos) AS prev,
             count(*) OVER (PARTITION BY doc_id) AS n
      FROM toks),
f AS (SELECT *,
        greatest(coalesce(prev, -1) + 1, pos - {wm1}, 0) AS lo,
        least(pos, n - {w}) AS hi
      FROM t WHERE n >= {w}),
g AS (SELECT doc_id, max(n)::BIGINT AS n,
             sum(greatest(0, hi - lo + 1))::BIGINT AS total,
             sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_types
      FROM f GROUP BY 1)
SELECT doc_id, n AS n_tokens, n_types,
       {ttr} AS ttr,
       (n - {wm1})::BIGINT AS n_windows,
       {mattr} AS mattr
FROM g
""".format(
    w=_MATTR_W,
    wm1=_MATTR_W - 1,
    ttr=_FL6_SQL.format(x="CAST(n_types AS DOUBLE) / CAST(n AS DOUBLE)"),
    mattr=_FL6_SQL.format(
        x=f"CAST(total AS DOUBLE) / CAST({_MATTR_W} * (n - {_MATTR_W - 1}) AS DOUBLE)"
    ),
)


# --------------------------------------------- negative sampling
#
# Deterministic hash-ring negative sampling for contrastive training
# pairs: anchor doc_id < {cap} gets {k} negatives at ranks
# h('neg:id:j') mod n over the doc_id-ordered rank ring, stepping one
# slot on a self-hit.  Everything is exact integers; the same-source
# audit flag quantifies how often uniform sampling draws a "hard"
# negative.

_NEG_CAP = 50
_NEG_K = 5


def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, j, neg_doc_id, same_source) — {k} deterministic
    negatives per anchor.  Rank ring built once via the distributed
    prefix count (a row_number window here would sort EVERY document
    into one task — round-9 registry-wide audit), then two broadcast
    joins — corpus touched once."""
    from k_means_hadoop_spark.partitioning import prefix_sum

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    ranks = prefix_sum(
        docs.withColumn("_one", F.lit(1)),
        "_one",
        [F.col("doc_id").asc()],
        out_col="_rn",
    ).withColumn("r", F.col("_rn") - 1).drop("_one", "_rn")
    n = ranks.agg(F.count(F.lit(1)).alias("n"))
    anchors = (
        ranks.filter(F.col("doc_id") < _NEG_CAP)
        .withColumnRenamed("source", "a_source")
        .withColumnRenamed("r", "ra")
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.lit(_NEG_K - 1))))
        .crossJoin(F.broadcast(n))
    )
    h = stable_hash64(
        F.concat_ws(":", F.lit("neg"), F.col("doc_id"), F.col("j"))
    )
    c0 = h % F.col("n")
    c = F.when(c0 == F.col("ra"), (c0 + 1) % F.col("n")).otherwise(c0)
    cand = anchors.withColumn("c", c)
    neg = ranks.select(
        F.col("r").alias("nr"),
        F.col("doc_id").alias("neg_doc_id"),
        F.col("source").alias("n_source"),
    )
    # broadcast the BOUNDED side: cand is <= _NEG_CAP x _NEG_K rows;
    # neg is the whole corpus ring (broadcasting it — the previous
    # form — ships every document to every executor)
    return F.broadcast(cand).join(neg, cand.c == neg.nr).select(
        "doc_id",
        F.col("j").cast("int").alias("j"),
        "neg_doc_id",
        (F.col("a_source") == F.col("n_source")).alias("same_source"),
    )


negative_sampling_pairs.__doc__ = negative_sampling_pairs.__doc__.format(
    k=_NEG_K
)

NEG_SAMPLING_SQL = """
WITH ranks AS (SELECT doc_id, source,
                      row_number() OVER (ORDER BY doc_id) - 1 AS r
               FROM documents),
n AS (SELECT count(*)::BIGINT AS n FROM ranks),
anchors AS (SELECT doc_id, source AS a_source, r AS ra, j, n
            FROM ranks CROSS JOIN n,
                 (SELECT unnest(range(0, {k}))::INT AS j)
            WHERE doc_id < {cap}),
cand AS (SELECT *,
           CASE WHEN ({h}) % n = ra THEN (({h}) % n + 1) % n
                ELSE ({h}) % n END AS c
         FROM anchors)
SELECT cand.doc_id, j, neg.doc_id AS neg_doc_id,
       (a_source = neg.source) AS same_source
FROM cand JOIN ranks neg ON neg.r = cand.c
""".format(
    k=_NEG_K,
    cap=_NEG_CAP,
    h=stable_hash64_sql(
        "'neg' || ':' || cand_doc_id_placeholder"
    ).replace(
        "cand_doc_id_placeholder",
        "doc_id::VARCHAR || ':' || j::VARCHAR",
    ),
)


# --------------------------------------------- personalized PageRank
#
# PageRank with the teleport mass restricted to a SEED set (parts <=
# {seed}) — the "related to these products" recommendation ranking, vs
# the global importance of pagerank_copurchase.  Same iteration shape
# (ranks join edges on src, one grouped sum per round), same fixed-
# iteration unrolled-CTE value oracle; the only change is the teleport
# vector: (1-d)·1/|S| on seeds, 0 elsewhere.

_PPR_DAMPING = 0.85
_PPR_ITERS = 5
_PPR_SEED_MAX = 50


def pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part, rank) — personalized PageRank from the seed set on the
    bounded co-purchase graph.  Node-/edge-sized joins per iteration;
    only node-grain tables leave the loop."""
    e = _copurchase_edges(spark, sf_dir)
    edges = e.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionByName(
        e.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    ).transform(truncate_lineage)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("part"), "deg").transform(
        truncate_lineage
    )
    seeds = nodes.filter(F.col("part") <= _PPR_SEED_MAX)
    n_seeds = seeds.count()
    if n_seeds == 0:
        # fail loudly with the cause — the implicit alternative is a
        # driver-side ZeroDivisionError here while the SQL oracle
        # silently yields NULL ranks: neither is a usable answer
        raise ValueError(
            "pagerank_personalized: no co-purchase node has part <= "
            f"{_PPR_SEED_MAX}; personalized PageRank needs a non-empty "
            "seed set"
        )
    d = _PPR_DAMPING
    tele = nodes.select(
        "part",
        F.when(F.col("part") <= _PPR_SEED_MAX, F.lit(1.0 / n_seeds))
        .otherwise(F.lit(0.0))
        .alias("tele"),
    ).transform(truncate_lineage)
    ranks = tele.select("part", F.col("tele").alias("rank"))
    for _ in range(_PPR_ITERS):
        contrib = (
            ranks.join(nodes, "part")
            .select(
                F.col("part").alias("src"),
                (F.col("rank") / F.col("deg").cast("double")).alias("c"),
            )
            .join(edges, "src")
            .groupBy(F.col("dst").alias("part"))
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            tele.join(contrib, "part", "left")
            .select(
                "part",
                (
                    F.lit(1.0 - d) * F.col("tele")
                    + F.lit(d) * F.coalesce(F.col("in_sum"), F.lit(0.0))
                ).alias("rank"),
            )
            .transform(truncate_lineage)
        )
    return ranks.select("part", F.round("rank", 6).alias("rank"))


def _ppr_sql() -> str:
    d = _PPR_DAMPING
    parts = [
        _EDGES_CTE.strip()
        + """,
edges AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM e
                       UNION ALL SELECT pb, pa FROM e),
deg AS MATERIALIZED (SELECT src AS part, count(*)::BIGINT AS deg
                     FROM edges GROUP BY src),
ns AS (SELECT count(*)::BIGINT AS n_seeds FROM deg WHERE part <= {seed}),
tele AS MATERIALIZED (
  SELECT part, deg,
         CASE WHEN part <= {seed} THEN 1.0::DOUBLE / ns.n_seeds::DOUBLE
              ELSE 0.0::DOUBLE END AS tele
  FROM deg CROSS JOIN ns),
r0 AS (SELECT part, tele AS rank FROM tele)""".format(seed=_PPR_SEED_MAX)
    ]
    for i in range(1, _PPR_ITERS + 1):
        parts.append(
            f"""c{i} AS (SELECT e.dst AS part, sum(r.rank / t.deg::DOUBLE) AS in_sum
  FROM r{i - 1} r JOIN tele t ON t.part = r.part JOIN edges e ON e.src = r.part
  GROUP BY e.dst),
r{i} AS (SELECT t.part,
         (1.0::DOUBLE - {d}::DOUBLE) * t.tele
           + {d}::DOUBLE * coalesce(c.in_sum, 0.0::DOUBLE) AS rank
  FROM tele t LEFT JOIN c{i} c ON c.part = t.part)"""
        )
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT part, round(rank, 6) AS rank FROM r{_PPR_ITERS}"
    )


# --------------------------------------------- stupid backoff trigrams
#
# Brants et al. 2007's web-scale LM smoothing: score(w3 | w1 w2) =
# c3/c2 when the trigram was seen, else 0.4 · c2(w2 w3)/c1(w2) — the
# no-normalization backoff that made distributed trigram LMs tractable.
# The query scores the top-bigram × top-unigram continuation grid, so
# BOTH branches are exercised (unseen continuations back off).  All
# counts are exact; the branch is on integer presence; each score
# spends one division + the constant α multiply, then the 6dp floor.

_SB_BIGRAMS = 20
_SB_UNIGRAMS = 5
_SB_ALPHA = 0.4


def stupid_backoff_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w1, w2, w3, c3, backed_off, score) over the top-{b} bigram ×
    top-{u} unigram grid."""
    from k_means_hadoop_spark.operators import text as text_ops

    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(text_ops._tokens(F.col("text")), lambda x: x != "")
    t = docs.select(toks.alias("toks")).where(F.size("toks") >= 3)
    tri_len = F.size("toks") - 2
    tris = t.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, tri_len),
                F.zip_with(
                    F.slice("toks", 2, tri_len),
                    F.slice("toks", 3, tri_len),
                    lambda b, c: F.struct(b.alias("w2"), c.alias("w3")),
                ),
                lambda a, bc: F.struct(
                    a.alias("w1"), bc["w2"].alias("w2"), bc["w3"].alias("w3")
                ),
            )
        ).alias("g")
    ).select("g.w1", "g.w2", "g.w3")
    c3 = tris.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    # bigram/unigram counts over the SAME token stream (all positions)
    t2 = docs.select(toks.alias("toks")).where(F.size("toks") >= 2)
    pair_len = F.size("toks") - 1
    bis = t2.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, pair_len),
                F.slice("toks", 2, pair_len),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("g")
    ).select("g.w1", "g.w2")
    c2 = bis.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    unis = docs.select(F.explode(toks).alias("w"))
    c1 = unis.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))

    top_bi = c2.orderBy(
        F.col("c2").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(_SB_BIGRAMS)
    top_u = (
        c1.orderBy(F.col("c1").desc(), F.col("w").asc())
        .limit(_SB_UNIGRAMS)
        .select(F.col("w").alias("w3"))
    )
    grid = top_bi.crossJoin(F.broadcast(top_u))
    c2b = c2.select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3"), F.col("c2").alias("c2b")
    )
    c1b = c1.select(F.col("w").alias("w2"), F.col("c1").alias("c1_w2"))
    j = (
        grid.join(c3, ["w1", "w2", "w3"], "left")
        .join(c2b, ["w2", "w3"], "left")
        .join(c1b, "w2")
    )
    score = (
        "CASE WHEN c3 IS NOT NULL THEN CAST(c3 AS DOUBLE) / CAST(c2 AS DOUBLE)"
        f" WHEN c2b IS NOT NULL THEN {_SB_ALPHA} * (CAST(c2b AS DOUBLE) / CAST(c1_w2 AS DOUBLE))"
        " ELSE CAST(0 AS DOUBLE) END"
    )
    return j.select(
        "w1",
        "w2",
        "w3",
        F.coalesce(F.col("c3"), F.lit(0)).cast("bigint").alias("c3"),
        F.col("c3").isNull().alias("backed_off"),
        _fl6(F.expr(score)).alias("score"),
    )


stupid_backoff_trigrams.__doc__ = stupid_backoff_trigrams.__doc__.format(
    b=_SB_BIGRAMS, u=_SB_UNIGRAMS
)


def _sb_sql() -> str:
    from k_means_hadoop_spark.registry_pipeline import _TOKS

    score = _FL6_SQL.format(
        x="CASE WHEN c3 IS NOT NULL THEN CAST(c3 AS DOUBLE) / CAST(c2 AS DOUBLE)"
        f" WHEN c2b IS NOT NULL THEN {_SB_ALPHA} * (CAST(c2b AS DOUBLE) / CAST(c1_w2 AS DOUBLE))"
        " ELSE CAST(0 AS DOUBLE) END"
    )
    return f"""
WITH t AS (SELECT list_filter({_TOKS}, x -> x != '') AS toks FROM documents),
tris AS (
  SELECT unnest(list_transform(range(1, len(toks) - 1),
           i -> {{'w1': toks[i], 'w2': toks[i + 1], 'w3': toks[i + 2]}}),
         recursive := true)
  FROM t WHERE len(toks) >= 3),
c3 AS (SELECT w1, w2, w3, count(*)::BIGINT AS c3 FROM tris GROUP BY 1, 2, 3),
bis AS (
  SELECT unnest(list_transform(range(1, len(toks)),
           i -> {{'w1': toks[i], 'w2': toks[i + 1]}}), recursive := true)
  FROM t WHERE len(toks) >= 2),
c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bis GROUP BY 1, 2),
c1 AS (SELECT w, count(*)::BIGINT AS c1
       FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
top_bi AS (SELECT * FROM c2 ORDER BY c2 DESC, w1, w2 LIMIT {_SB_BIGRAMS}),
top_u AS (SELECT w AS w3 FROM c1 ORDER BY c1 DESC, w LIMIT {_SB_UNIGRAMS}),
grid AS (SELECT * FROM top_bi CROSS JOIN top_u),
j AS (SELECT g.w1, g.w2, g.w3, g.c2, c3.c3,
             cb.c2 AS c2b, cu.c1 AS c1_w2
      FROM grid g
      LEFT JOIN c3 ON c3.w1 = g.w1 AND c3.w2 = g.w2 AND c3.w3 = g.w3
      LEFT JOIN c2 cb ON cb.w1 = g.w2 AND cb.w2 = g.w3
      JOIN c1 cu ON cu.w = g.w2)
SELECT w1, w2, w3, COALESCE(c3, 0)::BIGINT AS c3,
       (c3 IS NULL) AS backed_off,
       {score} AS score
FROM j
"""


# --------------------------------------------- Adamic-Adar link score
#
# resource_allocation_links' sibling with the 1/ln(deg) weight —
# the standard link-prediction index that discounts hub neighbors
# logarithmically instead of linearly.  Per-neighbor weights are
# floored to the 6dp decimal grid ONCE (one division each), so the
# per-pair sums are exact decimal adds in any order.

_AA_TOP = 30


def adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, n_common, aa) — top-{k} non-edges by Adamic-Adar score
    on the co-purchase graph."""

    e = _copurchase_edges(spark, sf_dir)
    nbrs = e.select(
        F.col("pa").alias("node"), F.col("pb").alias("nbr")
    ).unionByName(e.select(F.col("pb").alias("node"), F.col("pa").alias("nbr")))
    deg = nbrs.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    # deg-1 nodes can never be the shared neighbor of two distinct
    # endpoints, so excluding them is semantics-free — and required:
    # their ln(deg) = 0 weight would divide by zero before the join
    # could filter them out (hit at sf0.1).
    wz = deg.where(F.col("deg") >= 2).select(
        F.col("node").alias("z"),
        F.expr(
            "CAST("
            + _FL6_SQL.format(x="CAST(1 AS DOUBLE) / ln(CAST(deg AS DOUBLE))")
            + " AS DECIMAL(18,6))"
        ).alias("w6"),
    )
    n1 = nbrs.select(F.col("nbr").alias("u"), F.col("node").alias("z"))
    n2 = nbrs.select(F.col("nbr").alias("v"), F.col("node").alias("z2"))
    cand = (
        n1.join(n2, (F.col("z") == F.col("z2")) & (F.col("u") < F.col("v")))
        .join(F.broadcast(wz), "z")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("w6").alias("aa6"),
        )
    )
    new_links = cand.join(
        e, (cand.u == e.pa) & (cand.v == e.pb), "left_anti"
    )
    w = Window.orderBy(F.col("aa6").desc(), F.col("u"), F.col("v"))
    return (
        new_links.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _AA_TOP)
        .select("u", "v", "n_common", F.col("aa6").cast("double").alias("aa"))
    )


adamic_adar_links.__doc__ = adamic_adar_links.__doc__.format(k=_AA_TOP)


def _aa_sql() -> str:

    return (
        "WITH "
        + _EDGES_CTE.strip()
        + """,
nbrs AS (SELECT pa AS node, pb AS nbr FROM e
         UNION ALL SELECT pb, pa FROM e),
deg AS (SELECT node, count(*)::BIGINT AS deg FROM nbrs GROUP BY 1),
wz AS (SELECT node AS z, CAST({w6} AS DECIMAL(18,6)) AS w6 FROM deg WHERE deg >= 2),
cand AS (
  SELECT n1.nbr AS u, n2.nbr AS v,
         count(*)::BIGINT AS n_common, SUM(w6) AS aa6
  FROM nbrs n1 JOIN nbrs n2 ON n2.node = n1.node AND n1.nbr < n2.nbr
  JOIN wz ON wz.z = n1.node
  GROUP BY 1, 2),
new_links AS (
  SELECT * FROM cand
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.pa = cand.u AND e.pb = cand.v))
SELECT u, v, n_common, CAST(aa6 AS DOUBLE) AS aa
FROM new_links
ORDER BY aa6 DESC, u, v
LIMIT {k}
""".format(
            w6=_FL6_SQL.format(
                x="CAST(1 AS DOUBLE) / ln(CAST(deg AS DOUBLE))"
            ),
            k=_AA_TOP,
        )
    )


# --------------------------------------------- local clustering coeff
#
# Per-node clustering coefficient on the co-purchase graph:
# C(v) = 2·tri(v) / (deg(v)·(deg(v)−1)).  Triangles enumerate once in
# canonical a<b<c orientation (edge ⋈ edge ⋈ edge — the standard
# distributed triangle plan; shuffle ∝ Σ deg², bounded subgraph), then
# each triangle credits its three corners; exact integers until one
# division per node.


def clustering_coefficient_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, deg, triangles, coeff) for nodes with deg >= 2."""

    e = _copurchase_edges(spark, sf_dir).transform(truncate_lineage_lazy)
    e1 = e.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = e.select(F.col("pa").alias("b2"), F.col("pb").alias("c"))
    wedges = e1.join(e2, F.col("b") == F.col("b2")).select("a", "b", "c")
    e3 = e.select(F.col("pa").alias("a3"), F.col("pb").alias("c3"))
    tris = wedges.join(
        e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
    ).select("a", "b", "c")
    corners = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
    )
    tcount = corners.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))
    nbrs = e.select(
        F.col("pa").alias("node"), F.col("pb").alias("nbr")
    ).unionByName(e.select(F.col("pb").alias("node"), F.col("pa").alias("nbr")))
    deg = nbrs.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    c = (
        "CAST(2 AS DOUBLE) * CAST(triangles AS DOUBLE)"
        " / (CAST(deg AS DOUBLE) * CAST(deg - 1 AS DOUBLE))"
    )
    return (
        deg.where(F.col("deg") >= 2)
        .join(tcount, "node", "left")
        .fillna(0, subset=["triangles"])
        .select(
            F.col("node").cast("bigint").alias("node"),
            F.col("deg").cast("bigint").alias("deg"),
            F.col("triangles").cast("bigint").alias("triangles"),
            _fl6(F.expr(c)).alias("coeff"),
        )
    )


def _cc_sql() -> str:

    return (
        "WITH "
        + _EDGES_CTE.strip()
        + """,
tris AS (SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
         FROM e e1 JOIN e e2 ON e2.pa = e1.pb
         JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
corners AS (SELECT a AS node FROM tris
            UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris),
tcount AS (SELECT node, count(*)::BIGINT AS triangles FROM corners GROUP BY 1),
nbrs AS (SELECT pa AS node, pb AS nbr FROM e
         UNION ALL SELECT pb, pa FROM e),
deg AS (SELECT node, count(*)::BIGINT AS deg FROM nbrs GROUP BY 1)
SELECT deg.node::BIGINT AS node, deg.deg::BIGINT AS deg,
       COALESCE(tcount.triangles, 0)::BIGINT AS triangles,
       {c} AS coeff
FROM deg LEFT JOIN tcount ON tcount.node = deg.node
WHERE deg.deg >= 2
""".format(
            c=_FL6_SQL.format(
                x="CAST(2 AS DOUBLE) * CAST(COALESCE(tcount.triangles, 0) AS DOUBLE)"
                " / (CAST(deg.deg AS DOUBLE) * CAST(deg.deg - 1 AS DOUBLE))"
            )
        )
    )


# --------------------------------------------- log-odds terms (Monroe)
#
# "Fightin' words": which terms distinguish the English corpus slice
# from the rest — the Dirichlet(+1)-smoothed log-odds-ratio
# lor(t) = ln( (c1+1)(n2−c2+1) / ((n1−c1+1)(c2+1)) ).  Every factor is
# an exact BIGINT, so the single ln argument is ONE exact-operand IEEE
# division; the result floors to the 6dp grid.  Term-grain map +
# aggregate; the top-20 cut is Spark's TakeOrdered (distributed
# top-k, no global sort) with the term string as the deterministic
# tiebreak.

_LO_TOPK = 20


def log_odds_terms_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, c_en, c_rest, lor) — top-20 most English-associated
    terms by smoothed log-odds."""
    from k_means_hadoop_spark.operators import text
    from k_means_hadoop_spark.operators.corpus_extra import _docs

    d = _docs(spark, sf_dir).select(
        (F.col("lang") == "en").cast("int").alias("is_en"), "text"
    )
    toks = F.filter(text._tokens(F.col("text")), lambda x: x != "")
    tf = (
        d.select("is_en", F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(
            F.sum("is_en").alias("c1"),
            F.sum(1 - F.col("is_en")).alias("c2"),
        )
    )
    tot = tf.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    lor = _FL6_SQL.format(
        x="ln(CAST((c1 + 1) * (n2 - c2 + 1) AS DOUBLE)"
        " / CAST((n1 - c1 + 1) * (c2 + 1) AS DOUBLE))"
    )
    scored = tf.crossJoin(F.broadcast(tot)).select(
        "term",
        F.col("c1").cast("bigint").alias("c_en"),
        F.col("c2").cast("bigint").alias("c_rest"),
        F.expr(lor).alias("lor"),
    )
    return scored.orderBy(F.col("lor").desc(), F.col("term").asc()).limit(
        _LO_TOPK
    )


def _log_odds_sql() -> str:
    from k_means_hadoop_spark.registry_pipeline import _TOKS

    lor = _FL6_SQL.format(
        x="ln(CAST((c1 + 1) * (n2 - c2 + 1) AS DOUBLE)"
        " / CAST((n1 - c1 + 1) * (c2 + 1) AS DOUBLE))"
    )
    return f"""
WITH d AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en, text
           FROM documents),
tf AS (SELECT tok AS term,
              SUM(is_en)::BIGINT AS c1,
              SUM(1 - is_en)::BIGINT AS c2
       FROM (SELECT is_en,
                    unnest(list_filter({_TOKS}, x -> x != '')) AS tok
             FROM d)
       GROUP BY 1),
tot AS (SELECT SUM(c1)::BIGINT AS n1, SUM(c2)::BIGINT AS n2 FROM tf)
SELECT term, c1 AS c_en, c2 AS c_rest,
       {lor} AS lor
FROM tf CROSS JOIN tot
ORDER BY lor DESC, term ASC
LIMIT {_LO_TOPK}
"""


MINING_QUERIES = {
    "hits_copurchase": (hits_copurchase, _hits_sql()),
    "resource_allocation_links": (resource_allocation_links, RA_SQL),
    "readability_scores": (readability_scores, READABILITY_SQL),
    "char_entropy_docs": (char_entropy_docs, CHAR_ENTROPY_SQL),
    "random_projection_jl": (random_projection_jl, JL_SQL),
    "graph_assortativity": (graph_assortativity, ASSORTATIVITY_SQL),
    "mattr_docs": (mattr_docs, MATTR_SQL),
    "negative_sampling_pairs": (negative_sampling_pairs, NEG_SAMPLING_SQL),
    "pagerank_personalized": (pagerank_personalized, _ppr_sql()),
    "stupid_backoff_trigrams": (stupid_backoff_trigrams, _sb_sql()),
    "adamic_adar_links": (adamic_adar_links, _aa_sql()),
    "clustering_coefficient_nodes": (clustering_coefficient_nodes, _cc_sql()),
    "log_odds_terms_langs": (log_odds_terms_langs, _log_odds_sql()),
}
