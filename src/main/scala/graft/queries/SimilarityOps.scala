package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity-search battery over `embeddings` (array<float>, 64-dim).
  *
  * Oracle-parity numeric strategy: per-element products are computed in
  * double (float→double widening is exact, one IEEE multiply is
  * bit-identical everywhere), then accumulated in DECIMAL(38,18) — exact
  * and order-insensitive, so Spark's shuffle order and DuckDB's scan order
  * produce identical bits; the final cosine is a double division of
  * identical inputs. The fast float path (fold-order `aggregate`) lives in
  * [[graft.operators.Similarity]] and is what a latency-sensitive caller
  * uses; these queries take the portable-exact path.
  */
object SimilarityOps {

  private val D = DecimalType(38, 18)

  // The bench fixture is ONE parquet row group, so every map-heavy
  // stage fed straight off the scan (decimal dot products in broadcast
  // joins, per-vector quantization, explodes) would run in a single
  // task — the fixed-N repartition (which AQE preserves) widens it
  // once for all embedding gates. At production scale the scan's file
  // splits provide this parallelism natively; a row group is the
  // minimum split unit, so a tiny fixture has no other lever.
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")
      .repartition(s.sessionState.conf.numShufflePartitions)

  /** The BARE scan, for the probe-index gates (q54/q67/q86/q183/q202):
    * their pipeline is assignNearest → repartition(cluster) → write
    * plus a ≤k-row decimal rerank, so the fixture-widening shuffle in
    * [[emb]] sits directly in front of another full shuffle and is
    * pure overhead — measured +0.4–0.7 s per gate at sf0.1 (r13 A/B,
    * full suite vs full suite). The decimal-heavy gates (PQ trainings,
    * all-pairs recall yardsticks) KEEP [[emb]]: the same A/B showed
    * them 2–5 s/gate faster widened, because their decimal work feeds
    * straight off the single-row-group fixture scan.
    */
  private def embNarrow(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")

  /** The SHIPPED sign-LSH width: sized from the corpus count
    * ([[Similarity.scaledSignBits]], target bucket 32) instead of a
    * fixed pair list — SCALING.md measured the fixed width's candidate
    * mass at growth exponent 2.0, the sized one ~linear. The count is
    * one parquet-metadata job (no scan); dim 64 is the fixture
    * embedding width (TESTDATA.md). At sf0.01 this sizes to 4 bits —
    * exactly the old `defaultPairs` — so every oracle hash is
    * unchanged at the gate SF while larger corpora get wider buckets
    * automatically (the oracle derives the same width from `count(*)`,
    * [[Similarity.scaledBucketSql]]).
    */
  private def sizedPairs(s: SparkSession, dir: String): Seq[(Int, Int)] =
    // Count the RAW table, not emb() — the fixture repartition would
    // turn a parquet-metadata count into a real shuffle job.
    Similarity.scaledSignPairs(Tables.table(s, dir, "embeddings").count(),
      dim = 64, targetBucketSize = 32)

  /** Exact (decimal-accumulated) cosine of every vector vs `vec_id = 0`,
    * over an optional candidate subset.
    */
  private def exactCosine(vecs: DataFrame): DataFrame = {
    val e = vecs
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("vec_id"), col("pos"), col("vf").cast(DoubleType).as("v"))
    val q = e.filter(col("vec_id") === 0).select(col("pos"), col("v").as("qv"))
    val d = e.filter(col("vec_id") =!= 0)
      .join(broadcast(q), "pos")
      .groupBy("vec_id")
      .agg(
        sum((col("v") * col("qv")).cast(D)).as("dot_d"),
        sum((col("v") * col("v")).cast(D)).as("na_d"))
    val nq = q.agg(sum((col("qv") * col("qv")).cast(D)).as("nq_d"))
    // Final cosine is rounded to a 1e-9 grid: the decimal→double
    // conversion of the (identical) exact sums can differ by an ulp
    // between engines, and both Spark's BigDecimal round and DuckDB's
    // round(x,9) land on the same double for any value on that grid.
    // Zero-norm (all-zero) vectors are excluded EXPLICITLY on both
    // sides: Spark's divide-by-zero yields NULL while DuckDB's yields
    // NaN — which sorts ABOVE every real cosine in a DESC rank — so
    // without the shared guard a degenerate vector would enter the
    // oracle's top-k but not Spark's.
    d.crossJoin(broadcast(nq))
      .filter(col("na_d") > 0 && col("nq_d") > 0)
      .select(col("vec_id"),
        round(col("dot_d").cast(DoubleType) /
          (sqrt(col("na_d").cast(DoubleType)) * sqrt(col("nq_d").cast(DoubleType))),
          9).as("cosine"))
  }

  /** Shared DuckDB CTEs: element-exploded embeddings + query vector. */
  private val expandCte = """
    e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings),
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 0),
    nq AS (SELECT CAST(SUM(CAST(qv*qv AS DECIMAL(38,18))) AS DOUBLE) AS nqv FROM q)"""

  private val cosineCte = s"""
    $expandCte,
    d AS (SELECT e.vec_id,
                 CAST(SUM(CAST(e.v*q.qv AS DECIMAL(38,18))) AS DOUBLE) AS dot,
                 CAST(SUM(CAST(e.v*e.v AS DECIMAL(38,18))) AS DOUBLE) AS na
          FROM e JOIN q USING (pos) WHERE e.vec_id <> 0 GROUP BY 1),
    cos AS (SELECT vec_id, round(dot/(sqrt(na)*sqrt(nqv)), 9) AS cosine
            FROM d, nq WHERE na > 0 AND nqv > 0)"""

  /** Coarse centroids on the portable decimal grid: decimal-exact
    * per-dimension means rounded to 1e-9 and cast to FLOAT, so Spark
    * and the SQL oracle assign and probe from bit-identical centroids
    * (the production float-avg [[Similarity.centroids]] stays
    * spec-covered in IvfSpec). `byCol` is the seed assignment — the
    * label column for the q54/q58/q67 gates, the evolving cluster
    * column for q59's Lloyd iterations — single-sourced so the grid
    * rounding cannot drift between the gates.
    */
  private def decimalGridCentroids(vecs: DataFrame, byCol: String): DataFrame =
    vecs.select(col(byCol).as("cluster"),
        posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("cluster"), col("pos"), col("vf").cast(DoubleType).as("v"))
      .groupBy("cluster", "pos")
      .agg(round(sum(col("v").cast(D)).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 9).cast(FloatType).as("c"))
      .groupBy("cluster")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pairs"))
      .select(col("cluster"),
        transform(col("pairs"), p => p.getField("c")).as("centroid"))

  /** [[decimalGridCentroids]] over the label seed, MATERIALIZED: every
    * consumer site (q54/q58/q67/q86/q88/q89/q131/q183/q202/q206/q214)
    * passes the centroid table to an index build AND one or more
    * searches, each of which is its own Spark action — without the cut
    * the corpus-wide explode+groupBy re-executes once per action
    * (q58's three probe sweeps paid it four times). The table is tiny
    * (nlist rows), so the materialization is a small job and every
    * later consumer reads 16 rows instead of re-aggregating the corpus
    * (guide §1.2 — don't compute things twice). Gate for the same-JVM
    * A/B: spark.graft.ckptCentroids=false restores the lazy plan.
    */
  private def labelCentsDecimal(e: DataFrame): DataFrame = {
    val c = decimalGridCentroids(e, "label")
    if (e.sparkSession.conf.get("spark.graft.ckptCentroids", "true").toBoolean)
      c.localCheckpoint(true)
    else c
  }

  /** Portable final ranking shared by the q54/q58/q59 IVF gates: the
    * decimal-exact cosine of each candidate id against vec 0, rounded
    * to the 1e-9 grid, top-10 with the vec_id tiebreak. Zero-norm
    * candidates (and a zero-norm query) surface as NULL from Spark's
    * non-ANSI divide and are dropped — exactly the rows the oracles'
    * `nn > 0` guards drop. Single-sourced so the NaN/NULL and
    * tie-break semantics cannot drift between the three gates.
    */
  private def decimalRerankTop10(e: DataFrame, candIds: DataFrame): DataFrame = {
    def dot(a: Column, b: Column) = call_function("dot_exact", a, b)
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"),
        sqrt(dot(col("embedding"), col("embedding"))).as("qnrm"))
    candIds.join(e.select("vec_id", "embedding"), "vec_id")
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(dot(col("embedding"), col("qvec")) /
          (sqrt(dot(col("embedding"), col("embedding"))) * col("qnrm")),
          9).as("cosine"))
      .filter(col("cosine").isNotNull)
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** Shared DuckDB CTE block for the label-centroid IVF gates
    * (q54 / q58 / q67): exploded embeddings + decimal-grid float
    * centroids + norms + the nearest-centroid assignment — the
    * declarative restatement of [[labelCentsDecimal]] +
    * [[Similarity.ivfWrite]]'s assignment. Single-sourced so the
    * three oracles cannot drift.
    */
  private val ivfAssignCte = """
    e AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings),
    cent AS (SELECT label, pos,
                    CAST(round(CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE)
                      / count(*), 9) AS REAL) AS cf
             FROM e GROUP BY 1, 2),
    centd AS (SELECT label, pos, CAST(cf AS DOUBLE) AS c FROM cent),
    cn AS (SELECT label, CAST(SUM(CAST(c*c AS DECIMAL(38,18))) AS DOUBLE) AS nn
           FROM centd GROUP BY 1),
    vn AS (SELECT vec_id, CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn
           FROM e GROUP BY 1),
    vc AS (SELECT e.vec_id, cd.label,
                  CAST(SUM(CAST(e.v*cd.c AS DECIMAL(38,18))) AS DOUBLE) AS dot
           FROM e JOIN centd cd ON cd.pos = e.pos GROUP BY 1, 2),
    assign AS (SELECT vec_id, label FROM (
                 SELECT vc.vec_id, vc.label,
                        row_number() OVER (PARTITION BY vc.vec_id
                          ORDER BY vc.dot/(sqrt(vn.nn)*sqrt(cn.nn)) DESC,
                                   vc.label) AS rk
                 FROM vc JOIN vn USING (vec_id) JOIN cn USING (label))
               WHERE rk = 1)"""

  /** Shared DuckDB CTE: symmetric per-vector max-abs int8
    * quantization (the declarative restatement of
    * [[Similarity.quantizeInt8]]) — `qz(vec_id, embedding, sc, qvec)`.
    * Single-sourced across the q68/q69/q86 oracles so the rounding
    * semantics cannot drift between the gates.
    */
  private val int8Cte = """
    qz AS (SELECT vec_id, embedding, sc,
             CASE WHEN sc = 0
                  THEN list_transform(embedding, x -> CAST(0 AS TINYINT))
                  ELSE list_transform(embedding,
                         x -> CAST(round(CAST(x AS DOUBLE)/sc) AS TINYINT))
             END AS qvec
           FROM (SELECT vec_id, embedding,
                   CAST(list_max(list_transform(embedding, x -> abs(x)))
                        AS DOUBLE)/127.0 AS sc
                 FROM embeddings))"""

  /** Decimal-grid PQ pipeline shared by q96/q97: m=16 subspaces of 4
    * dims, 4 sign-seeded centroids each (decimal-exact means on the
    * 1e-9 grid), per-subspace L2² assignment ranked on the rounded
    * decimal, ADC score = decimal dot of the query against each
    * vector's reconstruction. Returns (vec_id, score). Subspace count
    * is the recall lever at fixed code size (16 subs × 2 bits = 4 B,
    * still 64×; measured 2× the recall of 4 subs × 16 dims on this
    * corpus — more, narrower codebooks approximate an unstructured
    * vector far better than few wide ones). The production float path
    * is [[Similarity.pqCodebook]]/pqEncode/pqAdcTopK (SimilaritySpec);
    * this is its portable restatement, same pattern as the q54/q59
    * IVF gates.
    */

  /** Subspace geometry shared by every PQ stage: 16 subspaces of
    * width 4 over the 64-dim fixtures. pos = sub·PqW + lpos is
    * assembled in three places — one constant or they drift apart.
    */
  private val PqM = 16
  private val PqW = 4

  /** Eagerly materialize `df` only when the caller will read it many
    * times (q171's MSE-audit path); single-read callers (q99/q100/
    * q108) must NOT pay the blocking materialization — measured +2 s
    * each at sf0.1 when the cut is unconditional.
    */
  private def cutIf(cut: Boolean)(df: DataFrame): DataFrame =
    if (cut) df.localCheckpoint(true) else df

  /** Raw-vector PQ stage — [[pqPartsFromVec]] over the embeddings
    * (map-side buckets, broadcast codebook, in-row argmin; the
    * exploded-assignment formulation it replaced paid a 4x-blown
    * shuffle aggregate plus an argmin window per training).
    */
  private def pqParts(s: SparkSession, dir: String): PqExParts =
    pqPartsFromVec(emb(s, dir), "embedding")

  private def pqAdcScores(s: SparkSession, dir: String): DataFrame =
    pqAdcScoresFromEx(pqParts(s, dir))

  /** DuckDB CTE chain mirroring [[pqAdcScores]]; ends in
    * `pqsc(vec_id, score)` (plus `ex`/`q` reused by q97's exact side).
    */
  private val pqCte = """
    ex AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    ex2 AS (SELECT vec_id, pos, v,
                   CAST(floor(pos / 4) AS INT) AS sub,
                   pos - CAST(floor(pos / 4) AS INT) * 4 AS lpos
            FROM ex),
    bk AS (SELECT vec_id, s.sub,
             (CASE WHEN embedding[s.sub*4+1] > embedding[s.sub*4+3]
                   THEN '1' ELSE '0' END) ||
             (CASE WHEN embedding[s.sub*4+2] > embedding[s.sub*4+4]
                   THEN '1' ELSE '0' END) AS cluster
           FROM embeddings, (SELECT unnest(range(16)) AS sub) s),
    cb AS (SELECT ex2.sub, bk.cluster, ex2.lpos,
                  CAST(round(CAST(SUM(CAST(ex2.v AS DECIMAL(38,18)))
                                  AS DOUBLE) / count(*), 9) AS FLOAT) AS c
           FROM ex2 JOIN bk
             ON bk.vec_id = ex2.vec_id AND bk.sub = ex2.sub
           GROUP BY 1, 2, 3),
    asn AS (SELECT ex2.vec_id, ex2.sub, cb.cluster,
                   round(CAST(SUM(CAST(
                     (ex2.v - CAST(cb.c AS DOUBLE)) *
                     (ex2.v - CAST(cb.c AS DOUBLE)) AS DECIMAL(38,18)))
                     AS DOUBLE), 9) AS d2
            FROM ex2 JOIN cb ON cb.sub = ex2.sub AND cb.lpos = ex2.lpos
            GROUP BY 1, 2, 3),
    codes AS (SELECT vec_id, sub, cluster FROM (
                SELECT vec_id, sub, cluster,
                       row_number() OVER (PARTITION BY vec_id, sub
                         ORDER BY d2 ASC, cluster ASC) AS rk
                FROM asn) WHERE rk = 1),
    q AS (SELECT pos, v AS qv FROM ex WHERE vec_id = 0),
    cd AS (SELECT codes.vec_id, cb.sub*4 + cb.lpos AS pos,
                  CAST(cb.c AS DOUBLE) AS cd
           FROM codes JOIN cb
             ON cb.sub = codes.sub AND cb.cluster = codes.cluster),
    pqsc AS (SELECT cd.vec_id,
                    round(CAST(SUM(CAST(q.qv * cd.cd AS DECIMAL(38,18)))
                               AS DOUBLE), 9) AS score
             FROM cd JOIN q ON q.pos = cd.pos
             GROUP BY 1)"""

  /** IVF-PQ top-10 shared by q99/q100: decimal coarse assignment to
    * the label centroids (unrounded cosine rank — identical decimal
    * inputs make the one IEEE divide bit-equal across engines, the
    * ivfAssignCte contract), nprobe=2 probe ranking against the
    * query, and [[pqAdcScores]] restricted to the probed clusters'
    * members.
    */
  private def ivfPqTop10(s: SparkSession, dir: String): DataFrame =
    ivfPqRanked(s, dir)
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)

  /** Shared decimal coarse stage of the IVF-PQ gates: exploded
    * embeddings, decimal-grid centroid elements, the nearest-centroid
    * assignment, and the nprobe=2 probe set. Single-sourced so
    * q99/q100/q108 and the residual variant (q171) route identically.
    */
  private final case class CoarseParts(ex: DataFrame, cd: DataFrame,
      assign: DataFrame, probes: DataFrame)

  private def coarseParts(s: SparkSession, dir: String,
      cut: Boolean = false): CoarseParts = {
    val e = emb(s, dir)
    val ex = e
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("vec_id"), col("pos"), col("vf").cast(DoubleType).as("v"))
      // q171's consumers (norms, assignment, yardstick, raw AND
      // residual encodings, the probe query) re-derive this
      // scan+explode 5+ times — cut there, not for single-pass gates
      .transform(cutIf(cut))
    // Raw (un-checkpointed) centroids: the exploded `cd` below is the
    // only consumer and is itself cut — labelCentsDecimal's
    // materialization would just add a blocking job in front of it.
    val cd = decimalGridCentroids(e, "label")
      .select(col("cluster"), posexplode(col("centroid")).as(Seq("pos", "cf")))
      .select(col("cluster"), col("pos"), col("cf").cast(DoubleType).as("c"))
      .localCheckpoint(true) // bounded (clusters × dims); read 3x below
    val cn = cd.groupBy("cluster")
      .agg(sum((col("c") * col("c")).cast(D)).as("cnd"))
      .select(col("cluster"), col("cnd").cast(DoubleType).as("cnn"))
    val vn = ex.groupBy("vec_id")
      .agg(sum((col("v") * col("v")).cast(D)).as("vnd"))
      .select(col("vec_id"), col("vnd").cast(DoubleType).as("vnn"))
    val vc = ex.join(broadcast(cd), "pos")
      .groupBy("vec_id", "cluster")
      .agg(sum((col("v") * col("c")).cast(D)).as("dotd"))
      .select(col("vec_id"), col("cluster"),
        col("dotd").cast(DoubleType).as("dot"))
    val assign = graft.functions.ColumnLib.latestWins(
        vc.join(vn, "vec_id").join(cn, "cluster")
          .withColumn("__cos",
            col("dot") / (sqrt(col("vnn")) * sqrt(col("cnn")))),
        Seq("vec_id"), Seq(col("__cos").desc_nulls_last, col("cluster").asc))
      .select("vec_id", "cluster")
      // corpus-sized but narrow (2 cols); in q171, candidates,
      // residuals, the coarse term and both MSE paths all join it
      .transform(cutIf(cut))
    val q = ex.filter(col("vec_id") === 0).select(col("pos"), col("v").as("qv"))
    val qn = q.agg(sum((col("qv") * col("qv")).cast(D)).as("qnd"))
      .select(col("qnd").cast(DoubleType).as("qnn"))
    val probes = cd.join(broadcast(q), "pos")
      .groupBy("cluster")
      .agg(sum((col("c") * col("qv")).cast(D)).as("pdotd"))
      .join(cn, "cluster").crossJoin(broadcast(qn))
      .orderBy((col("pdotd").cast(DoubleType) /
        (sqrt(col("cnn")) * sqrt(col("qnn")))).desc, col("cluster"))
      .limit(2).select("cluster")
    CoarseParts(ex, cd, assign, probes)
  }

  /** The un-truncated IVF-PQ candidate ranking behind q99/q100/q108:
    * every probed-cluster member with its ADC score. Callers cut to
    * their own k (q99 top-10; q108's two-stage gate shortlists 4k).
    */
  private def ivfPqRanked(s: SparkSession, dir: String): DataFrame = {
    val parts = coarseParts(s, dir)
    val candidates = parts.assign
      .join(broadcast(parts.probes), Seq("cluster"), "left_semi")
      .select("vec_id")
    pqAdcScores(s, dir)
      .join(candidates, Seq("vec_id"), "left_semi")
  }

  /** Residual-encoded IVF-PQ candidate ranking (the FAISS production
    * recipe, q171): PQ codebooks are trained on RESIDUALS r = v − c
    * (coarse centroid), which are smaller and better-centered than raw
    * vectors, so the same code budget quantizes tighter. Score =
    * ⟨q, c⟩ + ⟨q, r̂⟩ — the coarse term is exact per cluster and only
    * the residual is quantized. Same decimal discipline end to end;
    * the m=16/w=4 split, sign-seeded codebooks, and latestWins code
    * assignment mirror [[pqAdcScores]] exactly so the ONLY difference
    * under test is residual vs raw encoding.
    */
  private final case class ResidualPqParts(scores: DataFrame,
      codes: DataFrame)

  private def pqResidualParts(s: SparkSession, dir: String,
      parts: CoarseParts): ResidualPqParts = {
    val w = PqW
    // Residual VECTORS r = v − c of each vector's own coarse centroid,
    // assembled map-side as arrays (centroid arrays broadcast; each
    // element is the same IEEE subtract of the same doubles the
    // exploded formulation computed) so the whole PQ stage below runs
    // through the shared map-side [[pqPartsFromVec]] path — buckets,
    // codebook seeding, argmin and the d2 grid all identical, the
    // ONLY difference under test stays residual vs raw encoding.
    val centArr = parts.cd.groupBy("cluster")
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("carr"))
    val resVec = emb(s, dir).select(col("vec_id"), col("embedding"))
      .join(parts.assign.select("vec_id", "cluster"), "vec_id")
      .join(broadcast(centArr), "cluster")
      .select(col("vec_id"),
        zip_with(col("embedding"), col("carr"),
          (a, b) => a.cast(DoubleType) - b).as("rvec"))
    val rp = pqPartsFromVec(resVec, "rvec")
    // Residual ADC partial ⟨q, r̂⟩ scored against the RAW query (the
    // reconstruction lives in residual space, the query does not).
    val q = parts.ex.filter(col("vec_id") === 0)
      .select(col("pos"), col("v").as("qv"))
    val rsc = rp.codes.join(broadcast(rp.cbd), Seq("sub", "cluster"))
      .select(col("vec_id"), (col("sub") * w + col("lpos")).as("pos"),
        col("cd"))
      .join(broadcast(q), "pos")
      .groupBy("vec_id")
      .agg(sum((col("qv") * col("cd")).cast(D)).as("rsd"))
    // Exact coarse term: ⟨q, c_coarse(vec)⟩ in decimal.
    val ct = parts.assign
      .join(broadcast(parts.cd), "cluster")
      .join(broadcast(q), "pos")
      .groupBy("vec_id")
      .agg(sum((col("qv") * col("c")).cast(D)).as("ctd"))
    val scores = rsc.join(ct, "vec_id")
      .select(col("vec_id"),
        round((col("rsd") + col("ctd")).cast(DoubleType), 9).as("score"))
    ResidualPqParts(scores, rp.codes)
  }

  /** DuckDB CTE chain for the IVF-PQ gates: coarse assignment + probe
    * ranking ([[ivfAssignCte]] vocabulary: `assign`, `probes`)
    * composed with the PQ pipeline ([[pqCte]]: `pqsc`, `ex`, `q`).
    */
  private lazy val ivfPqCte: String = s"""
    $ivfAssignCte,
    q2 AS (SELECT pos, v FROM e WHERE vec_id = 0),
    qn2 AS (SELECT CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn
            FROM q2),
    pc AS (SELECT cd2.label,
                  CAST(SUM(CAST(cd2.c*q2.v AS DECIMAL(38,18))) AS DOUBLE)
                    AS dot
           FROM centd cd2 JOIN q2 ON q2.pos = cd2.pos GROUP BY 1),
    probes AS (SELECT pc.label FROM pc JOIN cn USING (label), qn2
               ORDER BY pc.dot/(sqrt(cn.nn)*sqrt(qn2.nn)) DESC, pc.label
               LIMIT 2),
    $pqCte"""

  private def bucketSql(tbl: String): String =
    Similarity.scaledBucketSql(tbl, s"$tbl.embedding", targetBucketSize = 32)

  /** SQL predicate: Hamming distance between two '0'/'1' bucket strings
    * is ≤ `h` — the declarative mirror of the multi-probe expansion
    * ([[Similarity.probeBuckets]] explodes each query to every bucket
    * in its Hamming-`h` ball; joining on bucket equality against that
    * set selects exactly the pairs this predicate admits). Width-
    * agnostic (iterates `length(a)`) so it tracks the sized bucket.
    */
  private def hammingLeSql(a: String, b: String, h: Int): String =
    s"""len([__x for __x in generate_series(1, length($a))
         if substr($a,__x,1) <> substr($b,__x,1)]) <= $h"""

  /** Decimal-exact all-pairs batch top-3 (the recall yardstick): every
    * `%97` query scored against every other vector, cut per query on
    * the bounded-heap plan. Shared by q47 and the q57 recall gate.
    */
  private def batchExactTop3(s: SparkSession, dir: String): DataFrame = {
    def dot(a: Column, b: Column) = call_function("dot_exact", a, b)
    // Norms once per VECTOR, not once per pair: the per-pair hot
    // loop then runs exactly one decimal dot product (~3× less
    // decimal work than recomputing both norms per candidate).
    val vecs = emb(s, dir).select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    val queries = vecs.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("nrm").as("qnrm"))
    val scored = vecs.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("embedding"), col("qvec")) /
          (col("nrm") * col("qnrm")), 9).as("cosine"))
      // Degenerate vectors (null / zero-norm) produce a NULL cosine
      // here but produce NO row in the oracle's unnest-based CTEs;
      // drop them so the two stay row-set identical on any data.
      .filter(col("cosine").isNotNull)
    graft.operators.TopK.perGroup(scored, Seq("qid"),
      Seq(col("cosine").desc, col("vec_id").asc), k = 3)
  }

  /** Decimal-exact bucketed batch top-3: candidates come from a sign-LSH
    * bucket EQUALITY join, with each query exploded to its Hamming-ball
    * probe set ([[Similarity.probeBuckets]]; `probeHamming = 0` is the
    * plain one-bucket join). Shared by q48 (h=0), q56 (h=1) and the
    * q57 recall gate.
    */
  private def batchBucketedTop3(s: SparkSession, dir: String,
      probeHamming: Int,
      band: Option[(Double, Double)] = None): DataFrame = {
    def dot(a: Column, b: Column) = call_function("dot_exact", a, b)
    val pairs = sizedPairs(s, dir)
    val base = emb(s, dir).select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    val bucketed = Similarity.signLshBuckets(base, "embedding", pairs)
    val queries = bucketed.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("nrm").as("qnrm"),
        explode(Similarity.probeBuckets(col("bucket"),
          pairs.length, probeHamming)).as("qbucket"))
    val scored = bucketed.join(broadcast(queries),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("embedding"), col("qvec")) /
          (col("nrm") * col("qnrm")), 9).as("cosine"))
      .filter(col("cosine").isNotNull)
    // Hard-negative band: keep candidates similar enough to inform
    // the loss but below the near-duplicate bar (q123); applied to
    // the ROUNDED cosine so the cut is engine-portable.
    val banded = band.fold(scored) { case (lo, hi) =>
      scored.filter(col("cosine") >= lo && col("cosine") <= hi) }
    graft.operators.TopK.perGroup(banded, Seq("qid"),
      Seq(col("cosine").desc, col("vec_id").asc), k = 3)
  }

  /** DuckDB CTE triple for one portable k-means centroid table `c$i` /
    * its double view `c${i}d` / its norm table `n$i`, computed from the
    * assignment CTE `$asn(vec_id, cluster)`: per-dimension decimal-exact
    * mean, rounded to the 1e-9 grid, carried as FLOAT — so both engines
    * iterate from bit-identical centroids (q54's portability trick,
    * applied per Lloyd round).
    */
  private def kmCentSql(asn: String, i: Int): String = s"""
    c$i AS (SELECT s.cluster, e.pos,
                   CAST(round(CAST(SUM(CAST(e.v AS DECIMAL(38,18))) AS DOUBLE)
                     / count(*), 9) AS REAL) AS cf
            FROM e JOIN $asn s USING (vec_id) GROUP BY 1, 2),
    c${i}d AS (SELECT cluster, pos, CAST(cf AS DOUBLE) AS c FROM c$i),
    n$i AS (SELECT cluster, CAST(SUM(CAST(c*c AS DECIMAL(38,18))) AS DOUBLE) AS nn
            FROM c${i}d GROUP BY 1)"""

  /** DuckDB CTE `$name(vec_id, cluster)`: nearest-centroid assignment
    * against centroid tables `c${i}d`/`n$i`. Lloyd iterations rank on
    * the 1e-9-ROUNDED decimal cosine (both engines must pick identical
    * clusters for the next round's means to agree); the final build
    * assignment ranks unrounded, mirroring the production
    * `ivfWrite`/`assignNearest` double cosine exactly as q54 does.
    */
  private def kmAssignSql(i: Int, name: String, rounded: Boolean): String = {
    val sim = s"dd.dot/(sqrt(vn.nn)*sqrt(n$i.nn))"
    val ord = if (rounded) s"round($sim, 9)" else sim
    s"""
    $name AS (SELECT vec_id, cluster FROM (
      SELECT dd.vec_id, dd.cluster,
             row_number() OVER (PARTITION BY dd.vec_id
               ORDER BY $ord DESC, dd.cluster) AS rk
      FROM (SELECT e.vec_id, cd.cluster,
                   CAST(SUM(CAST(e.v*cd.c AS DECIMAL(38,18))) AS DOUBLE) AS dot
            FROM e JOIN c${i}d cd ON cd.pos = e.pos GROUP BY 1, 2) dd
      JOIN vn USING (vec_id) JOIN n$i USING (cluster)) WHERE rk = 1)"""
  }

  /** DuckDB restatement of the srht7 butterfly (q197's rotation):
    * seeded ±1 diagonal (sl), sign-flip (h0), six in-place butterfly
    * passes (h1..h6). Ends in h6(vec_id, l) holding the UNSCALED
    * Hadamard outputs — the caller divides by √64 and rounds to the
    * 1e-9 grid. Shared by q197/q198 so the two gates cannot drift.
    */
  private val srhtCte: String = """sl AS (SELECT list(CASE WHEN CAST('0x' ||
                        substr(md5('srht7:' || i), 1, 1) AS INTEGER) % 2 = 0
                      THEN 1.0 ELSE -1.0 END ORDER BY i) AS sl
                    FROM range(64) t(i)),
        h0 AS (SELECT vec_id,
                 list_transform(range(1, 65), i ->
                   CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                     * sl[CAST(i AS INT)]) AS l
               FROM embeddings, sl),
        h1 AS (SELECT vec_id, list_transform(range(0, 64), i ->
                 CASE WHEN (i & 1) = 0
                   THEN l[CAST(i+1 AS INT)] + l[CAST(xor(i, 1)+1 AS INT)]
                   ELSE l[CAST(xor(i, 1)+1 AS INT)] - l[CAST(i+1 AS INT)]
                 END) AS l FROM h0),
        h2 AS (SELECT vec_id, list_transform(range(0, 64), i ->
                 CASE WHEN (i & 2) = 0
                   THEN l[CAST(i+1 AS INT)] + l[CAST(xor(i, 2)+1 AS INT)]
                   ELSE l[CAST(xor(i, 2)+1 AS INT)] - l[CAST(i+1 AS INT)]
                 END) AS l FROM h1),
        h3 AS (SELECT vec_id, list_transform(range(0, 64), i ->
                 CASE WHEN (i & 4) = 0
                   THEN l[CAST(i+1 AS INT)] + l[CAST(xor(i, 4)+1 AS INT)]
                   ELSE l[CAST(xor(i, 4)+1 AS INT)] - l[CAST(i+1 AS INT)]
                 END) AS l FROM h2),
        h4 AS (SELECT vec_id, list_transform(range(0, 64), i ->
                 CASE WHEN (i & 8) = 0
                   THEN l[CAST(i+1 AS INT)] + l[CAST(xor(i, 8)+1 AS INT)]
                   ELSE l[CAST(xor(i, 8)+1 AS INT)] - l[CAST(i+1 AS INT)]
                 END) AS l FROM h3),
        h5 AS (SELECT vec_id, list_transform(range(0, 64), i ->
                 CASE WHEN (i & 16) = 0
                   THEN l[CAST(i+1 AS INT)] + l[CAST(xor(i, 16)+1 AS INT)]
                   ELSE l[CAST(xor(i, 16)+1 AS INT)] - l[CAST(i+1 AS INT)]
                 END) AS l FROM h4),
        h6 AS (SELECT vec_id, list_transform(range(0, 64), i ->
                 CASE WHEN (i & 32) = 0
                   THEN l[CAST(i+1 AS INT)] + l[CAST(xor(i, 32)+1 AS INT)]
                   ELSE l[CAST(xor(i, 32)+1 AS INT)] - l[CAST(i+1 AS INT)]
                 END) AS l FROM h5)"""

  /** DuckDB PQ stage over `src(vec_id, pos, v)` with every CTE name
    * prefixed by `p`, so q198 can run the IDENTICAL chain twice (raw
    * and rotated). Mirrors [[pqPartsFromEx]]/[[pqAdcScoresFromEx]]:
    * sign buckets from lpos 0 vs 2 / 1 vs 3 within each subspace,
    * decimal codebook means rounded to the 1e-9 grid and narrowed to
    * REAL, decimal argmin assignment, ADC scores against `src`'s
    * vec_id = 0 row, the top-10 cut, and the floored-micro MSE.
    */
  private def pqChainSql(src: String, p: String): String = s"""
        ${p}e2 AS (SELECT vec_id, pos, v,
                          CAST(floor(pos / 4) AS INT) AS sub,
                          pos - CAST(floor(pos / 4) AS INT) * 4 AS lpos
                   FROM $src),
        ${p}bk AS (SELECT vec_id, sub,
                     (CASE WHEN max(CASE WHEN lpos = 0 THEN v END) >
                                max(CASE WHEN lpos = 2 THEN v END)
                           THEN '1' ELSE '0' END) ||
                     (CASE WHEN max(CASE WHEN lpos = 1 THEN v END) >
                                max(CASE WHEN lpos = 3 THEN v END)
                           THEN '1' ELSE '0' END) AS cluster
                   FROM ${p}e2 GROUP BY 1, 2),
        ${p}cb AS (SELECT e2.sub, bk.cluster, e2.lpos,
                          CAST(round(CAST(SUM(CAST(e2.v AS DECIMAL(38,18)))
                                          AS DOUBLE) / count(*), 9) AS REAL)
                            AS c
                   FROM ${p}e2 e2 JOIN ${p}bk bk
                     ON bk.vec_id = e2.vec_id AND bk.sub = e2.sub
                   GROUP BY 1, 2, 3),
        ${p}cbd AS (SELECT sub, cluster, lpos, CAST(c AS DOUBLE) AS cd
                    FROM ${p}cb),
        ${p}asn AS (SELECT e2.vec_id, e2.sub, cbd.cluster,
                           round(CAST(SUM(CAST(
                             (e2.v - cbd.cd) * (e2.v - cbd.cd)
                             AS DECIMAL(38,18))) AS DOUBLE), 9) AS d2
                    FROM ${p}e2 e2 JOIN ${p}cbd cbd
                      ON cbd.sub = e2.sub AND cbd.lpos = e2.lpos
                    GROUP BY 1, 2, 3),
        ${p}codes AS (SELECT vec_id, sub, cluster FROM (
                        SELECT vec_id, sub, cluster,
                               row_number() OVER (PARTITION BY vec_id, sub
                                 ORDER BY d2 ASC, cluster ASC) AS rk
                        FROM ${p}asn) WHERE rk = 1),
        ${p}q AS (SELECT pos, v AS qv FROM $src WHERE vec_id = 0),
        ${p}sc AS (SELECT cdx.vec_id,
                          round(CAST(SUM(CAST(q.qv * cdx.cd
                            AS DECIMAL(38,18))) AS DOUBLE), 9) AS score
                   FROM (SELECT codes.vec_id,
                                cbd.sub * 4 + cbd.lpos AS pos, cbd.cd
                         FROM ${p}codes codes JOIN ${p}cbd cbd
                           ON cbd.sub = codes.sub
                          AND cbd.cluster = codes.cluster) cdx
                   JOIN ${p}q q ON q.pos = cdx.pos
                   GROUP BY 1),
        ${p}top AS (SELECT vec_id FROM (
                      SELECT vec_id, row_number() OVER (
                        ORDER BY score DESC, vec_id) AS rk FROM ${p}sc)
                    WHERE rk <= 10),
        ${p}mse AS (SELECT CAST(floor(CAST(SUM(e2s) AS DOUBLE) /
                      CAST(count(*) AS DOUBLE) * 1000000.0) AS BIGINT)
                      AS mse_micro
                    FROM (SELECT asn.vec_id,
                                 CAST(SUM(CAST(asn.d2 AS DECIMAL(38,18)))
                                   AS DECIMAL(38,18)) AS e2s
                          FROM ${p}codes codes JOIN ${p}asn asn
                            ON asn.vec_id = codes.vec_id
                           AND asn.sub = codes.sub
                           AND asn.cluster = codes.cluster
                          GROUP BY 1))"""

  /** PQ stage over a (vec_id, <vecCol> array) frame with elements of
    * any numeric type — [[pqParts]] generalized so q198's ROTATED
    * input (array<double>) trains through the identical pipeline as
    * the raw floats. The sign buckets (element 1 vs 3, 2 vs 4 within
    * each subspace — pqParts' rule) are computed MAP-SIDE from the
    * array before the explode and ride along as a 16-slot array, so
    * bucket assignment costs zero shuffle (the exploded-pivot
    * formulation would pay a groupBy plus a re-join). Identical
    * decimal discipline; mirrored 1:1 by [[pqChainSql]], whose
    * lpos-pivot bucket restatement compares the same widened doubles.
    */
  private final case class PqExParts(ex: DataFrame, cbd: DataFrame,
      codes: DataFrame, q: DataFrame)

  private def pqPartsFromVec(vecs: DataFrame, vecCol: String): PqExParts = {
    val m = PqM; val w = PqW
    val narrowCkpt = vecs.sparkSession.conf
      .get("spark.graft.pqNarrowCkpt", "true").toBoolean
    val b = (j: Int, i: Int) => element_at(col(vecCol), j * w + i)
    val bkArr = array((0 until m).map { j =>
      concat(
        when(b(j, 1) > b(j, 3), "1").otherwise("0"),
        when(b(j, 2) > b(j, 4), "1").otherwise("0"))
    }: _*)
    // src feeds BOTH the exploded training stream and the map-side code
    // assignment below. Default (narrowCkpt): materialize the packed
    // (vec_id, array) frame ONCE — ~6x fewer bytes than the exploded
    // 6-column form the old checkpoint carried (the 64 elements stay
    // one array cell instead of 64 rows of (id, pos, v, sub, lpos,
    // cluster)), and the residual/rotated callers' join/rotation
    // lineage is cut here instead of being re-executed by the code-
    // assignment pass (guide §2.3 materialize fewer bytes, §1.2 don't
    // compute twice). widenMaterialized then re-spreads the buffer when
    // AQE's byte-based coalescing folded the byte-light producing join
    // onto 1-3 partitions: the q171 profile showed the residual ex
    // checkpoint as 1.3 s on ONE task with 31 cores idle — the
    // downstream explode+decimal work is CPU-heavy per byte. At
    // production scale the buffer is already wide → no-op.
    // Old path (gate false, kept for the same-JVM A/B): checkpoint the
    // exploded frame and derive codes from the raw input.
    val src =
      if (narrowCkpt)
        graft.functions.ColumnLib.widenMaterialized(
          vecs.select(col("vec_id"), col(vecCol)).localCheckpoint(true))
      else vecs
    val exPlan = src.select(col("vec_id"), bkArr.as("__bk"),
        posexplode(col(vecCol)).as(Seq("pos", "__vf")))
      .withColumn("v", col("__vf").cast(DoubleType))
      .withColumn("sub", floor(col("pos") / w).cast(IntegerType))
      .withColumn("lpos", col("pos") - col("sub") * w)
      .withColumn("cluster", element_at(col("__bk"), col("sub") + 1))
      .select("vec_id", "pos", "v", "sub", "lpos", "cluster")
    // read by codebook, query AND yardstick — narrowCkpt consumers
    // re-derive the explode from the packed buffer (cheap, wide map
    // work); the old path materializes the exploded rows themselves.
    val ex = if (narrowCkpt) exPlan else exPlan.localCheckpoint(true)
    val cb = ex.groupBy("sub", "cluster", "lpos")
      .agg((round(sum(col("v").cast(D)).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 9)).cast(FloatType).as("c"))
      .localCheckpoint(true) // tiny (m·4·16 rows); read three times below
    val cbd = cb.select(col("sub"), col("cluster"), col("lpos"),
      col("c").cast(DoubleType).as("cd"))
    // Per-sub candidate codewords as 4-slot arrays (lpos-ordered), 16
    // rows total — broadcast, so assignment + argmin run MAP-SIDE in
    // one pass over (vec, sub) rows: all 4 candidate d2s are scored
    // in-row (double diffs on identical inputs, DECIMAL(38,18)
    // accumulation over the 4 terms — exact, so fold order is moot,
    // then the round-9 grid), and array_sort(struct(d2r, cluster))
    // picks the winner with the oracle's d2 ASC, cluster ASC
    // tiebreak. The exploded-assignment alternative costs a 4x-blown
    // shuffle aggregate plus an argmin window — measured ~1 s slower
    // per variant at sf0.1.
    val cands = cbd.groupBy("sub", "cluster")
      .agg(transform(sort_array(collect_list(struct(col("lpos"), col("cd")))),
        x => x.getField("cd")).as("carr"))
      .groupBy("sub")
      .agg(sort_array(collect_list(struct(col("cluster"), col("carr"))))
        .as("cands"))
    val dzero = lit(java.math.BigDecimal.ZERO).cast(D)
    val codes = src.select(col("vec_id"),
        transform(col(vecCol), x => x.cast(DoubleType)).as("__vd"),
        explode(array((0 until m).map(j => lit(j)): _*)).as("sub"))
      .withColumn("varr", slice(col("__vd"), col("sub") * w + 1, lit(w)))
      .join(broadcast(cands), Seq("sub"))
      .withColumn("best", element_at(array_sort(
        transform(col("cands"), c => struct(
          round(aggregate(
            zip_with(col("varr"), c.getField("carr"),
              (x, y) => ((x - y) * (x - y)).cast(D)),
            dzero, (acc, z) => (acc + z).cast(D)).cast(DoubleType), 9)
            .as("d2r"),
          c.getField("cluster").as("cluster")))), 1))
      .select(col("vec_id"), col("sub"), col("best.cluster").as("cluster"),
        col("best.d2r").as("d2r"))
      // The chain above is all map-side — which also means NO shuffle
      // files for Spark to reuse across the consumers' jobs (ADC
      // scoring, MSE, recall cuts each recompute it otherwise;
      // measured 2x whole-gate blowups on the multi-action gates).
      // One eager cut of the compact (vec x sub) frame serves them all.
      .localCheckpoint(true)
    val q = ex.filter(col("vec_id") === 0)
      .select(col("pos"), col("v").as("qv"))
    PqExParts(ex.select("vec_id", "pos", "v"), cbd, codes, q)
  }

  private def pqAdcScoresFromEx(p: PqExParts): DataFrame =
    p.codes.join(broadcast(p.cbd), Seq("sub", "cluster"))
      .select(col("vec_id"), (col("sub") * PqW + col("lpos")).as("pos"),
        col("cd"))
      .join(broadcast(p.q), "pos")
      .groupBy("vec_id")
      .agg(sum((col("qv") * col("cd")).cast(D)).as("sd"))
      .select(col("vec_id"), round(col("sd").cast(DoubleType), 9).as("score"))

  val defs: Seq[QueryDef] = Seq(

    // ---- brute-force exact cosine top-k (the ANN baseline) --------------
    QueryDef("q40_cosine_topk",
      (s, dir) => {
        exactCosine(emb(s, dir))
          .orderBy(col("cosine").desc, col("vec_id"))
          .limit(20)
      },
      Some(s"""
        WITH $cosineCte
        SELECT vec_id, cosine FROM cos
        ORDER BY cosine DESC, vec_id LIMIT 20""")),

    // ---- semantic decontamination: corpus vs benchmark embeddings -------
    // Text decontamination (q39/q90) misses PARAPHRASED leakage; the
    // embedding-space screen catches it: corpus vectors near any
    // BENCHMARK vector (cosine ≥ t) are flagged for removal. Candidates
    // meet on sign-LSH bucket equality across the two sets — a plain
    // cross-frame equi-join, never corpus × benchmark — and exact
    // decimal cosine verifies. Output is the drop list with evidence
    // (match count + strongest match), the reviewable artifact a
    // decontamination run ships.
    QueryDef("q193_semantic_decontam",
      (s, dir) => {
        def dot(a: Column, b: Column) = call_function("dot_exact", a, b)
        val b = Similarity.signLshBuckets(
            emb(s, dir).select(col("vec_id"), col("embedding")), "embedding",
            sizedPairs(s, dir))
          .select(col("vec_id"), col("embedding"), col("bucket"),
            sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
          .localCheckpoint(true) // benchmark AND corpus splits read it
        val bench = b.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("bid"), col("embedding").as("bvec"),
            col("nrm").as("bnrm"), col("bucket"))
        b.filter(col("vec_id") % 10 =!= 0)
          .join(bench, "bucket")
          .filter(col("nrm") > 0 && col("bnrm") > 0)
          .select(col("vec_id"),
            round(dot(col("embedding"), col("bvec")) /
              (col("nrm") * col("bnrm")), 9).as("cosine"))
          .filter(col("cosine") >= 0.15)
          .groupBy("vec_id")
          .agg(count(lit(1)).as("n_matches"), max(col("cosine")).as("max_cos"))
          .orderBy("vec_id")
      },
      Some(s"""
        WITH b AS (SELECT vec_id, ${bucketSql("embeddings")} AS bucket
                   FROM embeddings),
        e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings),
        n AS (SELECT vec_id,
                     CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn
              FROM e GROUP BY 1),
        cand AS (SELECT c.vec_id AS cid, be.vec_id AS bid
                 FROM b c JOIN b be
                   ON be.bucket = c.bucket AND be.vec_id % 10 = 0
                 WHERE c.vec_id % 10 <> 0),
        d AS (SELECT cand.cid, cand.bid,
                     CAST(SUM(CAST(e1.v*e2.v AS DECIMAL(38,18))) AS DOUBLE)
                       AS dot
              FROM cand JOIN e e1 ON e1.vec_id = cand.cid
                        JOIN e e2 ON e2.vec_id = cand.bid
                                 AND e2.pos = e1.pos
              GROUP BY 1, 2),
        cos AS (SELECT cid, round(dot/(sqrt(n1.nn)*sqrt(n2.nn)), 9) AS cosine
                FROM d JOIN n n1 ON n1.vec_id = cid
                       JOIN n n2 ON n2.vec_id = bid
                WHERE n1.nn > 0 AND n2.nn > 0)
        SELECT cid AS vec_id, CAST(count(*) AS BIGINT) AS n_matches,
               max(cosine) AS max_cos
        FROM cos WHERE cosine >= 0.15 GROUP BY 1 ORDER BY 1""")),

    // ---- LSH-bucketed ANN: sign-bit coarse quantizer + in-bucket rank ---
    // The scale path: bucket assignment is per-row; written
    // partitionBy(bucket), a query scans ONE partition (IVF layout).
    QueryDef("q41_ann_lsh",
      (s, dir) => {
        val vecs = emb(s, dir)
        val bucketed = Similarity.signLshBuckets(vecs, "embedding",
          sizedPairs(s, dir))
        val qBucket = bucketed.filter(col("vec_id") === 0)
          .select(col("bucket").as("qb"))
        // The query vector matches its own bucket, so `cands` always
        // contains vec_id 0 and exactCosine can extract it.
        val cands = bucketed.join(broadcast(qBucket),
            col("bucket") === col("qb"))
          .select("vec_id", "embedding")
        exactCosine(cands)
          .orderBy(col("cosine").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""
        WITH b AS (SELECT vec_id, ${bucketSql("embeddings")} AS bucket
                   FROM embeddings),
        qb AS (SELECT bucket AS qbk FROM b WHERE vec_id = 0),
        cand AS (SELECT b.vec_id FROM b, qb WHERE b.bucket = qb.qbk),
        $expandCte,
        d AS (SELECT e.vec_id,
                     CAST(SUM(CAST(e.v*q.qv AS DECIMAL(38,18))) AS DOUBLE) AS dot,
                     CAST(SUM(CAST(e.v*e.v AS DECIMAL(38,18))) AS DOUBLE) AS na
              FROM e JOIN q USING (pos)
              WHERE e.vec_id <> 0 AND e.vec_id IN (SELECT vec_id FROM cand)
              GROUP BY 1)
        SELECT vec_id, round(dot/(sqrt(na)*sqrt(nqv)), 9) AS cosine
        FROM d, nq WHERE na > 0 AND nqv > 0
        ORDER BY cosine DESC, vec_id LIMIT 10""")),

    // ---- per-label centroids (the IVF coarse-centroid building block) ---
    QueryDef("q42_label_centroids",
      (s, dir) => {
        emb(s, dir)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "vf")))
          .select(col("label"), (col("pos") + 1).as("pos"),
            col("vf").cast(DoubleType).as("v"))
          .groupBy("label", "pos")
          .agg(round(sum(col("v").cast(D)).cast(DoubleType) /
            count(lit(1)).cast(DoubleType), 9).as("centroid"),
            count(lit(1)).as("n"))
          .orderBy("label", "pos")
      },
      Some("""
        SELECT label, pos,
               round(CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 9) AS centroid,
               count(*) AS n
        FROM (SELECT label, CAST(unnest(embedding) AS DOUBLE) AS v,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings)
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- batch top-k, EXACT baseline (all-pairs) ------------------------
    // Every query × every vector: the recall yardstick the bucketed
    // retrieval path (q48, Similarity.batchAnnTopK) is measured
    // against — NOT the production shape. O(|V|·|Q|·d) compute; run it
    // on samples, never on the corpus. The per-query cut still runs on
    // the bounded-heap plan ([[graft.operators.TopK.perGroup]]) so the
    // shuffle carries ≤ k rows per query per partition.
    QueryDef("q47_batch_ann",
      (s, dir) => batchExactTop3(s, dir)
        .orderBy(col("qid"), col("cosine").desc, col("vec_id")),
      Some("""
        WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                          generate_subscripts(embedding, 1) AS pos
                   FROM embeddings),
        n AS (SELECT vec_id, CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn
              FROM e GROUP BY 1),
        qs AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id % 97 = 0),
        d AS (SELECT q.qid, e2.vec_id,
                     CAST(SUM(CAST(e1.v*e2.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
              FROM qs q
              JOIN e e1 ON e1.vec_id = q.qid
              JOIN e e2 ON e2.pos = e1.pos AND e2.vec_id <> q.qid
              GROUP BY 1, 2),
        cos AS (SELECT qid, d.vec_id,
                       round(dot/(sqrt(n1.nn)*sqrt(n2.nn)), 9) AS cosine
                FROM d JOIN n n1 ON n1.vec_id = qid
                       JOIN n n2 ON n2.vec_id = d.vec_id
                WHERE n1.nn > 0 AND n2.nn > 0),
        rk AS (SELECT qid, vec_id, cosine,
                      row_number() OVER (PARTITION BY qid
                        ORDER BY cosine DESC, vec_id) AS rk
               FROM cos)
        SELECT qid, vec_id, cosine FROM rk WHERE rk <= 3
        ORDER BY qid, cosine DESC, vec_id""")),

    // ---- batch ANN, bucketed (the production retrieval shape) -----------
    // Same query set and ranking contract as q47, but candidates come
    // from a sign-LSH bucket EQUALITY join instead of all-pairs: a
    // broadcast hash join on the bucket key (≈ |V|·|Q|/B pairs scored,
    // never a nested loop), then the bounded-heap per-query cut. This
    // is the oracle-facing decimal-exact restatement of
    // [[graft.operators.Similarity.batchAnnTopK]] (whose hot path
    // scores in codegen double); SimilaritySpec pins the two to the
    // same plan shape and neighbor sets. Approximate by construction —
    // a neighbor outside the query's bucket is unseen — which the
    // oracle mirrors exactly, so the gate checks the retrieval
    // semantics, not brute force.
    QueryDef("q48_batch_ann_bucketed",
      (s, dir) => batchBucketedTop3(s, dir, probeHamming = 0)
        .orderBy(col("qid"), col("cosine").desc, col("vec_id")),
      Some(s"""
        WITH b AS (SELECT vec_id, ${bucketSql("embeddings")} AS bucket
                   FROM embeddings),
        qs AS (SELECT vec_id AS qid, bucket AS qbucket FROM b
               WHERE vec_id % 97 = 0),
        cand AS (SELECT q.qid, b.vec_id
                 FROM b JOIN qs q
                 ON b.bucket = q.qbucket AND b.vec_id <> q.qid),
        e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings),
        n AS (SELECT vec_id, CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn
              FROM e GROUP BY 1),
        d AS (SELECT c.qid, c.vec_id,
                     CAST(SUM(CAST(e1.v*e2.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
              FROM cand c
              JOIN e e1 ON e1.vec_id = c.qid
              JOIN e e2 ON e2.vec_id = c.vec_id AND e2.pos = e1.pos
              GROUP BY 1, 2),
        cos AS (SELECT qid, d.vec_id,
                       round(dot/(sqrt(n1.nn)*sqrt(n2.nn)), 9) AS cosine
                FROM d JOIN n n1 ON n1.vec_id = d.qid
                       JOIN n n2 ON n2.vec_id = d.vec_id
                WHERE n1.nn > 0 AND n2.nn > 0),
        rk AS (SELECT qid, vec_id, cosine,
                      row_number() OVER (PARTITION BY qid
                        ORDER BY cosine DESC, vec_id) AS rk
               FROM cos)
        SELECT qid, vec_id, cosine FROM rk WHERE rk <= 3
        ORDER BY qid, cosine DESC, vec_id""")),

    // ---- hard-negative mining for retrieval training (q123) -------------
    // The contrastive-training recipe: per query, the top candidates
    // in the 0.2 ≤ cos ≤ 0.9 band — similar enough to be informative
    // negatives, excluded above 0.9 (those are positives/near-dups)
    // and below 0.2 (uninformative easy negatives). Same multi-probe
    // bucketed candidate plan as q56; the band is one extra predicate
    // on the rounded cosine, so the mining run costs what the ANN run
    // costs.
    QueryDef("q123_hard_negatives",
      (s, dir) => batchBucketedTop3(s, dir, probeHamming = 1,
          band = Some((0.2, 0.9)))
        .orderBy(col("qid"), col("cosine").desc, col("vec_id")),
      Some(s"""
        WITH b AS (SELECT vec_id, ${bucketSql("embeddings")} AS bucket
                   FROM embeddings),
        qs AS (SELECT vec_id AS qid, bucket AS qbucket FROM b
               WHERE vec_id % 97 = 0),
        cand AS (SELECT q.qid, b.vec_id
                 FROM b JOIN qs q
                 ON ${hammingLeSql("b.bucket", "q.qbucket", 1)}
                    AND b.vec_id <> q.qid),
        e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings),
        n AS (SELECT vec_id, CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn
              FROM e GROUP BY 1),
        d AS (SELECT c.qid, c.vec_id,
                     CAST(SUM(CAST(e1.v*e2.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
              FROM cand c
              JOIN e e1 ON e1.vec_id = c.qid
              JOIN e e2 ON e2.vec_id = c.vec_id AND e2.pos = e1.pos
              GROUP BY 1, 2),
        cos AS (SELECT qid, d.vec_id,
                       round(dot/(sqrt(n1.nn)*sqrt(n2.nn)), 9) AS cosine
                FROM d JOIN n n1 ON n1.vec_id = d.qid
                       JOIN n n2 ON n2.vec_id = d.vec_id
                WHERE n1.nn > 0 AND n2.nn > 0),
        rk AS (SELECT qid, vec_id, cosine,
                      row_number() OVER (PARTITION BY qid
                        ORDER BY cosine DESC, vec_id) AS rk
               FROM cos WHERE cosine >= 0.2 AND cosine <= 0.9)
        SELECT qid, vec_id, cosine FROM rk WHERE rk <= 3
        ORDER BY qid, cosine DESC, vec_id""")),

    // ---- batch ANN, multi-probe (the recall knob) -----------------------
    // q48 with probeHamming = 1: each query also probes the 4 buckets
    // one bit-flip away, so the candidate join admits every pair whose
    // buckets differ by ≤ 1 bit — 5/16 of the corpus per query instead
    // of 1/16, in exchange for recall (an unseen neighbor now needs to
    // disagree on ≥ 2 hyperplanes). Still a bucket EQUALITY join: the
    // query side explodes to its 5-string Hamming ball
    // ([[graft.operators.Similarity.probeBuckets]]), the vector side is
    // untouched — never a nested loop. The oracle states the same
    // semantics declaratively: hamming(bucket, qbucket) <= 1.
    QueryDef("q56_batch_ann_multiprobe",
      (s, dir) => batchBucketedTop3(s, dir, probeHamming = 1)
        .orderBy(col("qid"), col("cosine").desc, col("vec_id")),
      Some(s"""
        WITH b AS (SELECT vec_id, ${bucketSql("embeddings")} AS bucket
                   FROM embeddings),
        qs AS (SELECT vec_id AS qid, bucket AS qbucket FROM b
               WHERE vec_id % 97 = 0),
        cand AS (SELECT q.qid, b.vec_id
                 FROM b JOIN qs q
                 ON ${hammingLeSql("b.bucket", "q.qbucket", 1)}
                    AND b.vec_id <> q.qid),
        e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings),
        n AS (SELECT vec_id, CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn
              FROM e GROUP BY 1),
        d AS (SELECT c.qid, c.vec_id,
                     CAST(SUM(CAST(e1.v*e2.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
              FROM cand c
              JOIN e e1 ON e1.vec_id = c.qid
              JOIN e e2 ON e2.vec_id = c.vec_id AND e2.pos = e1.pos
              GROUP BY 1, 2),
        cos AS (SELECT qid, d.vec_id,
                       round(dot/(sqrt(n1.nn)*sqrt(n2.nn)), 9) AS cosine
                FROM d JOIN n n1 ON n1.vec_id = d.qid
                       JOIN n n2 ON n2.vec_id = d.vec_id
                WHERE n1.nn > 0 AND n2.nn > 0),
        rk AS (SELECT qid, vec_id, cosine,
                      row_number() OVER (PARTITION BY qid
                        ORDER BY cosine DESC, vec_id) AS rk
               FROM cos)
        SELECT qid, vec_id, cosine FROM rk WHERE rk <= 3
        ORDER BY qid, cosine DESC, vec_id""")),

    // ---- ANN recall gate: approximate paths measured against exact ------
    // The number every ANN deployment actually monitors: recall@3 of
    // the bucketed (h=0) and multi-probe (h=1) retrievals against the
    // exact all-pairs baseline, per method. Monotonicity is structural
    // (h=1's candidate set is a superset of h=0's), and the gate makes
    // the recall/cost trade a VERIFIED number instead of a Scaladoc
    // claim. All three rankings share the family's portable total
    // order (1e-9-rounded decimal cosine, vec_id tiebreak), so the
    // intersection counts are engine-independent.
    QueryDef("q57_ann_recall",
      (s, dir) => {
        // The exact all-pairs baseline feeds BOTH union branches; a
        // plan-tree reuse does not happen across union children, so
        // eagerly materialize it once (it is |Q|*3 rows — tiny) instead
        // of paying the most expensive stage twice per run.
        val exact = batchExactTop3(s, dir).select("qid", "vec_id")
          .localCheckpoint(true)
        def stats(method: String, approx: DataFrame): DataFrame =
          exact.join(approx.select(col("qid"), col("vec_id"),
              lit(1).as("hit")), Seq("qid", "vec_id"), "left")
            .agg(coalesce(sum(col("hit")), lit(0)).cast(LongType).as("hits"),
              count(lit(1)).as("total"))
            .select(lit(method).as("method"), col("hits"), col("total"),
              round(col("hits").cast(DoubleType) /
                col("total").cast(DoubleType), 9).as("recall"))
        stats("bucketed_h0", batchBucketedTop3(s, dir, probeHamming = 0))
          .union(stats("multiprobe_h1", batchBucketedTop3(s, dir, probeHamming = 1)))
          .orderBy("method")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                          generate_subscripts(embedding, 1) AS pos
                   FROM embeddings),
        n AS (SELECT vec_id, CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn
              FROM e GROUP BY 1),
        b AS (SELECT vec_id, ${bucketSql("embeddings")} AS bucket
              FROM embeddings),
        qs AS (SELECT vec_id AS qid, bucket AS qbucket FROM b
               WHERE vec_id % 97 = 0),
        dx AS (SELECT q.qid, e2.vec_id,
                      CAST(SUM(CAST(e1.v*e2.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM qs q
               JOIN e e1 ON e1.vec_id = q.qid
               JOIN e e2 ON e2.pos = e1.pos AND e2.vec_id <> q.qid
               GROUP BY 1, 2),
        cosx AS (SELECT qid, dx.vec_id,
                        round(dot/(sqrt(n1.nn)*sqrt(n2.nn)), 9) AS cosine
                 FROM dx JOIN n n1 ON n1.vec_id = qid
                         JOIN n n2 ON n2.vec_id = dx.vec_id
                 WHERE n1.nn > 0 AND n2.nn > 0),
        ex AS (SELECT qid, vec_id FROM (
                 SELECT qid, vec_id,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY cosine DESC, vec_id) AS rk
                 FROM cosx) WHERE rk <= 3),
        cand0 AS (SELECT q.qid, b.vec_id FROM b JOIN qs q
                  ON ${hammingLeSql("b.bucket", "q.qbucket", 0)}
                     AND b.vec_id <> q.qid),
        cand1 AS (SELECT q.qid, b.vec_id FROM b JOIN qs q
                  ON ${hammingLeSql("b.bucket", "q.qbucket", 1)}
                     AND b.vec_id <> q.qid),
        d0 AS (SELECT c.qid, c.vec_id,
                      CAST(SUM(CAST(e1.v*e2.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM cand0 c
               JOIN e e1 ON e1.vec_id = c.qid
               JOIN e e2 ON e2.vec_id = c.vec_id AND e2.pos = e1.pos
               GROUP BY 1, 2),
        d1 AS (SELECT c.qid, c.vec_id,
                      CAST(SUM(CAST(e1.v*e2.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM cand1 c
               JOIN e e1 ON e1.vec_id = c.qid
               JOIN e e2 ON e2.vec_id = c.vec_id AND e2.pos = e1.pos
               GROUP BY 1, 2),
        ap0 AS (SELECT qid, vec_id FROM (
                  SELECT qid, d0.vec_id,
                         row_number() OVER (PARTITION BY qid
                           ORDER BY round(dot/(sqrt(n1.nn)*sqrt(n2.nn)), 9) DESC,
                                    d0.vec_id) AS rk
                  FROM d0 JOIN n n1 ON n1.vec_id = d0.qid
                          JOIN n n2 ON n2.vec_id = d0.vec_id
                  WHERE n1.nn > 0 AND n2.nn > 0) WHERE rk <= 3),
        ap1 AS (SELECT qid, vec_id FROM (
                  SELECT qid, d1.vec_id,
                         row_number() OVER (PARTITION BY qid
                           ORDER BY round(dot/(sqrt(n1.nn)*sqrt(n2.nn)), 9) DESC,
                                    d1.vec_id) AS rk
                  FROM d1 JOIN n n1 ON n1.vec_id = d1.qid
                          JOIN n n2 ON n2.vec_id = d1.vec_id
                  WHERE n1.nn > 0 AND n2.nn > 0) WHERE rk <= 3),
        raw AS (
          SELECT 'bucketed_h0' AS method,
                 (SELECT count(*) FROM ap0 a JOIN ex
                  ON a.qid = ex.qid AND a.vec_id = ex.vec_id) AS hits,
                 (SELECT count(*) FROM ex) AS total
          UNION ALL
          SELECT 'multiprobe_h1',
                 (SELECT count(*) FROM ap1 a JOIN ex
                  ON a.qid = ex.qid AND a.vec_id = ex.vec_id),
                 (SELECT count(*) FROM ex))
        SELECT method, hits, total,
               round(CAST(hits AS DOUBLE) / CAST(total AS DOUBLE), 9) AS recall
        FROM raw ORDER BY method""")),

    // ---- IVF end-to-end: build partitioned index, probe-limited search --
    // Exercises the REAL operators (ivfWrite: nearest-centroid assign +
    // partitionBy(cluster) write; ivfSearch: driver-ranked nprobe
    // probes + partition-pruned scan + in-cluster exact rank) against a
    // SQL restatement of the same semantics. Portability strategy: the
    // centroid table is decimal-exact means rounded to the 1e-9 grid
    // and cast to FLOAT, so both engines assign and probe from
    // bit-identical centroids (the production float-avg `centroids`
    // stays spec-covered in IvfSpec); the double-ranked ivfSearch cut
    // runs with a 5x margin (k=50) and the FINAL top-10 is decided by
    // the 1e-9-rounded decimal cosine with a vec_id tiebreak in BOTH
    // engines — the family's shared portable total order — so the
    // output set cannot hinge on double-vs-decimal ulps. The index dir
    // is a fixed per-corpus temp path (overwritten, never accumulated).
    QueryDef("q54_ivf_search",
      (s, dir) => {
        val e = embNarrow(s, dir)
        val cents = labelCentsDecimal(e)
        val qvec = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val path = sys.props("java.io.tmpdir") +
          s"/graft_ivf_q54_${java.lang.Integer.toHexString(dir.hashCode)}/index"
        Similarity.ivfWrite(e, "vec_id", "embedding", cents, path)
        val hits = Similarity.ivfSearch(s, path, "vec_id", "embedding",
          cents, qvec, k = 50, nprobe = 2)
        decimalRerankTop10(e, hits.select("vec_id"))
      },
      Some(s"""
        WITH $ivfAssignCte,
        q AS (SELECT pos, v FROM e WHERE vec_id = 0),
        qn AS (SELECT CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn FROM q),
        pc AS (SELECT cd.label,
                      CAST(SUM(CAST(cd.c*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM centd cd JOIN q ON q.pos = cd.pos GROUP BY 1),
        probes AS (SELECT pc.label FROM pc JOIN cn USING (label), qn
                   ORDER BY pc.dot/(sqrt(cn.nn)*sqrt(qn.nn)) DESC, pc.label
                   LIMIT 2),
        d AS (SELECT e.vec_id,
                     CAST(SUM(CAST(e.v*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
              FROM e JOIN q ON q.pos = e.pos
              WHERE e.vec_id IN (SELECT a.vec_id FROM assign a
                                 JOIN probes p ON p.label = a.label)
              GROUP BY 1)
        SELECT vec_id, round(dot/(sqrt(vn.nn)*sqrt(qn.nn)), 9) AS cosine
        FROM d JOIN vn USING (vec_id), qn
        WHERE vn.nn > 0 AND qn.nn > 0
        ORDER BY round(dot/(sqrt(vn.nn)*sqrt(qn.nn)), 9) DESC, vec_id
        LIMIT 10""")),

    // ---- IVF recall gate: the nprobe sweep measured against exact -------
    // q57's discipline applied to the IVF path: recall@10 of the REAL
    // ivfSearch (partition-pruned probe scan) at nprobe = 1, 2, 4
    // against the exact full-scan top-10 — the recall/cost curve every
    // IVF deployment tunes nprobe on, as a VERIFIED number. One index
    // build serves all three searches. Portability is q54's contract:
    // decimal-grid float centroids (both engines assign and probe from
    // identical bits), the double-ranked in-cluster cut runs with a 5x
    // margin (k=50), and every FINAL ranking — exact and probed — is
    // the family's portable total order (1e-9-rounded decimal cosine,
    // vec_id tiebreak). Recall is monotone in nprobe by construction
    // (probe sets are nested); the gate turns that curve into data.
    QueryDef("q58_ivf_recall",
      (s, dir) => {
        val e = emb(s, dir)
        val cents = labelCentsDecimal(e)
        val qvec = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val path = sys.props("java.io.tmpdir") +
          s"/graft_ivf_q58_${java.lang.Integer.toHexString(dir.hashCode)}/index"
        // Build from the BARE scan: assignNearest is map-side float
        // work ending in a cluster repartition, so the fixture
        // widening in e would shuffle twice for nothing (measured
        // ~0.5 s; the decimal yardstick below keeps the widened e).
        // The exact full-scan baseline feeds all three union branches;
        // as with q57, plan-tree reuse does not happen across union
        // children, so materialize the 10-row result once instead of
        // paying the full decimal scan per branch — and the build and
        // the yardstick are independent, so overlap them (guide §2.6).
        import graft.functions.ColumnLib.fork
        val exF = fork(s)(decimalRerankTop10(e, e.select("vec_id"))
          .select("vec_id").localCheckpoint(true))
        Similarity.ivfWrite(embNarrow(s, dir), "vec_id", "embedding",
          cents, path)
        val exact = exF()
        def stats(nprobe: Int): DataFrame = {
          val probed = Similarity.ivfSearch(s, path, "vec_id", "embedding",
            cents, qvec, k = 50, nprobe = nprobe)
          exact.join(
              decimalRerankTop10(e, probed.select("vec_id"))
                .select(col("vec_id"), lit(1).as("hit")),
              Seq("vec_id"), "left")
            .agg(coalesce(sum(col("hit")), lit(0)).cast(LongType).as("hits"),
              count(lit(1)).as("total"))
            .select(lit(nprobe).as("nprobe"), col("hits"), col("total"),
              round(col("hits").cast(DoubleType) /
                col("total").cast(DoubleType), 9).as("recall"))
        }
        stats(1).union(stats(2)).union(stats(4)).orderBy("nprobe")
      },
      Some(s"""
        WITH $ivfAssignCte,
        q AS (SELECT pos, v FROM e WHERE vec_id = 0),
        qn AS (SELECT CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn FROM q),
        pc AS (SELECT cd.label,
                      CAST(SUM(CAST(cd.c*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM centd cd JOIN q ON q.pos = cd.pos GROUP BY 1),
        pr AS (SELECT pc.label,
                      row_number() OVER (
                        ORDER BY pc.dot/(sqrt(cn.nn)*sqrt(qn.nn)) DESC,
                                 pc.label) AS prk
               FROM pc JOIN cn USING (label), qn),
        dall AS (SELECT e.vec_id,
                        CAST(SUM(CAST(e.v*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
                 FROM e JOIN q ON q.pos = e.pos GROUP BY 1),
        sc AS (SELECT vec_id, round(dot/(sqrt(vn.nn)*sqrt(qn.nn)), 9) AS cosine
               FROM dall JOIN vn USING (vec_id), qn
               WHERE vn.nn > 0 AND qn.nn > 0),
        ex AS (SELECT vec_id FROM (
                 SELECT vec_id,
                        row_number() OVER (ORDER BY cosine DESC, vec_id) AS rk
                 FROM sc) WHERE rk <= 10),
        ap1 AS (SELECT vec_id FROM (
                  SELECT sc.vec_id,
                         row_number() OVER (ORDER BY sc.cosine DESC, sc.vec_id) AS rk
                  FROM sc JOIN assign a ON a.vec_id = sc.vec_id
                  WHERE a.label IN (SELECT label FROM pr WHERE prk <= 1))
                WHERE rk <= 10),
        ap2 AS (SELECT vec_id FROM (
                  SELECT sc.vec_id,
                         row_number() OVER (ORDER BY sc.cosine DESC, sc.vec_id) AS rk
                  FROM sc JOIN assign a ON a.vec_id = sc.vec_id
                  WHERE a.label IN (SELECT label FROM pr WHERE prk <= 2))
                WHERE rk <= 10),
        ap4 AS (SELECT vec_id FROM (
                  SELECT sc.vec_id,
                         row_number() OVER (ORDER BY sc.cosine DESC, sc.vec_id) AS rk
                  FROM sc JOIN assign a ON a.vec_id = sc.vec_id
                  WHERE a.label IN (SELECT label FROM pr WHERE prk <= 4))
                WHERE rk <= 10),
        raw AS (
          SELECT 1 AS nprobe,
                 (SELECT count(*) FROM ap1 JOIN ex USING (vec_id)) AS hits,
                 (SELECT count(*) FROM ex) AS total
          UNION ALL
          SELECT 2, (SELECT count(*) FROM ap2 JOIN ex USING (vec_id)),
                 (SELECT count(*) FROM ex)
          UNION ALL
          SELECT 4, (SELECT count(*) FROM ap4 JOIN ex USING (vec_id)),
                 (SELECT count(*) FROM ex))
        SELECT nprobe, hits, total,
               round(CAST(hits AS DOUBLE) / CAST(total AS DOUBLE), 9) AS recall
        FROM raw ORDER BY nprobe""")),

    // ---- learned coarse quantizer: k-means-trained IVF ------------------
    // The missing piece between q54 (IVF from label means) and a real
    // pipeline: TRAIN the quantizer. Two Lloyd iterations from a
    // sign-LSH seed (assign to nearest centroid → recompute means),
    // then the REAL ivfWrite/ivfSearch operators build and probe the
    // index from the LEARNED centroids. Portability: every iteration's
    // centroids are decimal-exact means on the 1e-9 grid carried as
    // FLOAT, and iteration assignments rank on the ROUNDED decimal
    // cosine — so both engines walk identical Lloyd trajectories bit
    // for bit; the final build assignment and probe ranking restate the
    // production double cosine unrounded, exactly as q54 does. Cluster
    // ids carry a 'b' prefix: a bare '0101' bucket string would be
    // type-inferred as the integer 101 when the partitioned index is
    // read back. The production float-path kmeansStep stays spec-pinned
    // in IvfSpec (fixpoint + sign-LSH-seed convergence).
    QueryDef("q59_kmeans_ivf",
      (s, dir) => {
        def dot(a: Column, b: Column) = call_function("dot_exact", a, b)
        val e = emb(s, dir)
        def cent(assigned: DataFrame): DataFrame =
          decimalGridCentroids(assigned, "cluster")
        // Norms are hoisted OUT of the (vector x centroid) pair loop:
        // computed once per vector and once per centroid, the pair
        // stage runs exactly one decimal dot instead of three (~3x
        // less decimal work on the Lloyd hot path — same discipline
        // as batchExactTop3). sqrt of the identical decimal-exact
        // self-dot is the identical double, so the trajectory is
        // unchanged bit for bit.
        val en = e.select(col("vec_id"), col("embedding"),
          sqrt(dot(col("embedding"), col("embedding"))).as("__nrm"))
        def assign(cents: DataFrame): DataFrame =
          graft.functions.ColumnLib.latestWins(
            en.crossJoin(broadcast(cents.withColumn("__cnrm",
                sqrt(dot(col("centroid"), col("centroid"))))))
              .withColumn("sim", round(dot(col("embedding"), col("centroid")) /
                (col("__nrm") * col("__cnrm")), 9)),
            Seq("vec_id"), Seq(col("sim").desc_nulls_last, col("cluster").asc))
            .select(col("vec_id"), col("embedding"), col("cluster"))
        // Seed-cluster count is IVF nlist, not a dedup bucket: target
        // 128 sizes to 4 bits (16 clusters) at both gate SFs and grows
        // past n=4096 — Lloyd + the partitioned write pay per cluster,
        // so nlist grows at the coarser rung of the sizing ladder.
        val seed = Similarity.signLshBuckets(
            e.select("vec_id", "embedding"), "embedding",
            Similarity.scaledSignPairs(
              Tables.table(s, dir, "embeddings").count(), dim = 64,
              targetBucketSize = 128))
          .select(col("vec_id"), col("embedding"),
            concat(lit("b"), col("bucket")).as("cluster"))
        // Two kmeansSteps (assign → means), eagerly materialized: the
        // learned table is ≤ 16 rows but its lineage is the full Lloyd
        // chain, and ivfWrite + ivfSearch would otherwise re-run it.
        // (Round-16 tried forking the independent probe-vector fetch
        // alongside this chain: A/B 1.04 — the head() job is too small
        // to pay for; reverted.)
        val learned = cent(assign(cent(assign(cent(seed)))))
          .localCheckpoint(true)
        val qvec = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val path = sys.props("java.io.tmpdir") +
          s"/graft_ivf_q59_${java.lang.Integer.toHexString(dir.hashCode)}/index"
        Similarity.ivfWrite(e.select("vec_id", "embedding"), "vec_id",
          "embedding", learned, path)
        val hits = Similarity.ivfSearch(s, path, "vec_id", "embedding",
          learned, qvec, k = 50, nprobe = 2)
        decimalRerankTop10(e, hits.select("vec_id"))
      },
      Some(s"""
        WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                          generate_subscripts(embedding, 1) AS pos
                   FROM embeddings),
        vn AS (SELECT vec_id, CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn
               FROM e GROUP BY 1),
        seed AS (SELECT vec_id,
                   'b' || ${Similarity.scaledBucketSql("embeddings",
                     "embeddings.embedding", targetBucketSize = 128)}
                     AS cluster
                 FROM embeddings),
        ${kmCentSql("seed", 0)},
        ${kmAssignSql(0, "s1", rounded = true)},
        ${kmCentSql("s1", 1)},
        ${kmAssignSql(1, "s2", rounded = true)},
        ${kmCentSql("s2", 2)},
        ${kmAssignSql(2, "s3", rounded = false)},
        q AS (SELECT pos, v FROM e WHERE vec_id = 0),
        qn AS (SELECT CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn FROM q),
        pc AS (SELECT cd.cluster,
                      CAST(SUM(CAST(cd.c*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM c2d cd JOIN q ON q.pos = cd.pos GROUP BY 1),
        probes AS (SELECT pc.cluster FROM pc JOIN n2 USING (cluster), qn
                   ORDER BY pc.dot/(sqrt(n2.nn)*sqrt(qn.nn)) DESC, pc.cluster
                   LIMIT 2),
        d AS (SELECT e.vec_id,
                     CAST(SUM(CAST(e.v*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
              FROM e JOIN q ON q.pos = e.pos
              WHERE e.vec_id IN (SELECT s3.vec_id FROM s3
                                 JOIN probes USING (cluster))
              GROUP BY 1)
        SELECT vec_id, round(dot/(sqrt(vn.nn)*sqrt(qn.nn)), 9) AS cosine
        FROM d JOIN vn USING (vec_id), qn
        WHERE vn.nn > 0 AND qn.nn > 0
        ORDER BY round(dot/(sqrt(vn.nn)*sqrt(qn.nn)), 9) DESC, vec_id
        LIMIT 10""")),

    // ---- batch IVF search: the multi-query production shape -------------
    // q54 serves ONE query (driver-ranked probes, partition-pruned
    // scan); real serving batches thousands. ivfSearchBatch keeps the
    // whole path distributed: probe selection is a broadcast-centroid
    // bounded-heap top-nprobe per query (no driver collect), candidates
    // come from an EQUALITY join of the probe table against the
    // cluster-partitioned index (each probed cluster read once for all
    // queries probing it), and both cuts run on bounded heaps.
    // Portability is q54's contract: decimal-grid float centroids, the
    // double-ranked in-cluster cut runs with a 6x margin (k=30), and
    // the FINAL top-5 per query is the family's portable total order
    // (1e-9-rounded decimal cosine, vec_id tiebreak) in both engines.
    QueryDef("q67_ivf_batch",
      (s, dir) => {
        def dot(a: Column, b: Column) = call_function("dot_exact", a, b)
        val e = embNarrow(s, dir)
        val cents = labelCentsDecimal(e)
        val path = sys.props("java.io.tmpdir") +
          s"/graft_ivf_q67_${java.lang.Integer.toHexString(dir.hashCode)}/index"
        Similarity.ivfWrite(e, "vec_id", "embedding", cents, path)
        val qs = e.filter(col("vec_id") % 97 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val hits = Similarity.ivfSearchBatch(s, path, "vec_id", "embedding",
          cents, qs, "qid", "qvec", k = 30, nprobe = 2)
        val qn = qs.select(col("qid"), col("qvec"),
          sqrt(dot(col("qvec"), col("qvec"))).as("qnrm"))
        hits.select("qid", "vec_id")
          .join(e.select("vec_id", "embedding"), "vec_id")
          .join(broadcast(qn), "qid")
          .select(col("qid"), col("vec_id"),
            round(dot(col("embedding"), col("qvec")) /
              (sqrt(dot(col("embedding"), col("embedding"))) * col("qnrm")),
              9).as("cosine"))
          .filter(col("cosine").isNotNull)
          .transform(d => graft.operators.TopK.perGroup(d, Seq("qid"),
            Seq(col("cosine").desc, col("vec_id").asc), 5))
          .orderBy(col("qid"), col("cosine").desc, col("vec_id"))
      },
      Some(s"""
        WITH $ivfAssignCte,
        qs AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id % 97 = 0),
        qe AS (SELECT q.qid, e.pos, e.v FROM qs q JOIN e ON e.vec_id = q.qid),
        qn AS (SELECT qid, CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn
               FROM qe GROUP BY 1),
        pc AS (SELECT qe.qid, cd.label,
                      CAST(SUM(CAST(cd.c*qe.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM centd cd JOIN qe ON qe.pos = cd.pos GROUP BY 1, 2),
        probes AS (SELECT qid, label FROM (
                     SELECT pc.qid, pc.label,
                            row_number() OVER (PARTITION BY pc.qid
                              ORDER BY pc.dot/(sqrt(cn.nn)*sqrt(qn.nn)) DESC,
                                       pc.label) AS rk
                     FROM pc JOIN cn USING (label) JOIN qn USING (qid))
                   WHERE rk <= 2),
        cand AS (SELECT p.qid, a.vec_id
                 FROM probes p JOIN assign a ON a.label = p.label
                 WHERE a.vec_id <> p.qid),
        d AS (SELECT c.qid, c.vec_id,
                     CAST(SUM(CAST(e2.v*qe.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
              FROM cand c JOIN e e2 ON e2.vec_id = c.vec_id
                   JOIN qe ON qe.qid = c.qid AND qe.pos = e2.pos
              GROUP BY 1, 2)
        SELECT qid, vec_id, cosine FROM (
          SELECT d.qid, d.vec_id,
                 round(d.dot/(sqrt(vn.nn)*sqrt(qn.nn)), 9) AS cosine,
                 row_number() OVER (PARTITION BY d.qid
                   ORDER BY round(d.dot/(sqrt(vn.nn)*sqrt(qn.nn)), 9) DESC,
                            d.vec_id) AS rk
          FROM d JOIN vn ON vn.vec_id = d.vec_id JOIN qn ON qn.qid = d.qid
          WHERE vn.nn > 0 AND qn.nn > 0)
        WHERE rk <= 5
        ORDER BY qid, cosine DESC, vec_id""")),

    // ---- int8 embedding quantization (q68) -------------------------------
    // The storage-scale operator: symmetric per-vector max-abs int8
    // quantization (q_i = round(v_i * 127 / maxabs)) cuts embedding
    // bytes 4x before the index build — at 100 TB the difference
    // between an IVF index that fits the page cache and one that
    // doesn't. Entirely map-side (zero shuffle; the output sort is
    // presentation). Portability: one IEEE divide + a shared-semantics
    // round (both engines round half away from zero) per element, and
    // the error statistic is a MAX over dims — order-free, unlike a
    // sum — so no decimal detour is needed. Zero vectors take the
    // all-zeros branch explicitly (0/0 is NaN in both engines, but NaN
    // casts to int differ).
    QueryDef("q68_quantize_int8",
      (s, dir) => {
        // max_err is computed in a projection BELOW the one that aliases
        // the rounded scale: a same-select `round(scale).as("scale")`
        // would capture the lambda's `scale` reference via lateral
        // column alias resolution and silently swap the rounded value
        // into the error arithmetic.
        Similarity.quantizeInt8(
            emb(s, dir).select("vec_id", "embedding"), "embedding")
          // array_max, not a 0-seeded fold: on an empty embedding the
          // fold would yield 0.0 while DuckDB's list_max yields NULL —
          // array_max returns NULL on empty, keeping the engines
          // aligned on degenerate rows.
          .withColumn("max_err", round(array_max(
            zip_with(col("embedding"), col("qvec"), (v, q) =>
              abs(v.cast(DoubleType) - q.cast(DoubleType) * col("scale")))),
            9))
          .withColumn("n_clip",
            size(filter(col("qvec"), q => abs(q) === 127)).cast(LongType))
          // qvec leaves the query as a comma-joined STRING, not a raw
          // array: the driver's comparator sorts result columns with
          // pandas, which cannot sort array cells (round 6's only red
          // gate). The join is lossless — int8 text is canonical — and
          // the oracle mirrors it with array_to_string.
          .select(col("vec_id"), round(col("scale"), 9).as("scale"),
            array_join(transform(col("qvec"), q => q.cast(StringType)), ",")
              .as("qvec"),
            col("max_err"), col("n_clip"))
          .orderBy("vec_id")
      },
      Some(s"""
        WITH $int8Cte
        SELECT vec_id, round(sc, 9) AS scale,
               array_to_string(qvec, ',') AS qvec,
               round(list_max(list_transform(embedding, (x, i) ->
                 abs(CAST(x AS DOUBLE) - CAST(qvec[i] AS DOUBLE)*sc))), 9)
                 AS max_err,
               len(list_filter(qvec, x -> abs(x) = 127)) AS n_clip
        FROM qz ORDER BY vec_id""")),

    // ---- IVF-SQ8: quantized payloads inside the partitioned index -------
    // The composition production ANN actually ships (FAISS IVF-SQ):
    // float centroids route (same assignment as q54, so placement is
    // shared with the float index), the STORED payload is the int8
    // qvec + scale (4x smaller index), and in-cluster cosine is pure
    // integer arithmetic — scales cancel, int products sum exactly
    // into a long, so the ranking needs NO double-vs-decimal margin:
    // both engines cut the same rounded value. Search k runs one over
    // so the query's own row (rank 1 by construction) can be dropped
    // post-search without shrinking the result.
    QueryDef("q86_ivf_sq8",
      (s, dir) => {
        val e = embNarrow(s, dir)
        val cents = labelCentsDecimal(e)
        val path = sys.props("java.io.tmpdir") +
          s"/graft_ivf_q86_${java.lang.Integer.toHexString(dir.hashCode)}/index"
        Similarity.ivfWriteSq8(e.select("vec_id", "embedding"),
          "vec_id", "embedding", cents, path)
        val qvec = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        Similarity.ivfSearchSq8(s, path, "vec_id", cents, qvec,
            k = 11, nprobe = 2)
          .filter(col("vec_id") =!= 0)
          .orderBy(col("cosine").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""
        WITH $ivfAssignCte,
        q AS (SELECT pos, v FROM e WHERE vec_id = 0),
        qn AS (SELECT CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn FROM q),
        pc AS (SELECT cd.label,
                      CAST(SUM(CAST(cd.c*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM centd cd JOIN q ON q.pos = cd.pos GROUP BY 1),
        probes AS (SELECT pc.label FROM pc JOIN cn USING (label), qn
                   ORDER BY pc.dot/(sqrt(cn.nn)*sqrt(qn.nn)) DESC, pc.label
                   LIMIT 2),
        $int8Cte,
        n8 AS (SELECT vec_id, qvec,
                 CAST(list_sum(list_transform(qvec,
                   x -> CAST(x AS INTEGER)*CAST(x AS INTEGER))) AS BIGINT) AS nrm2
               FROM qz),
        q0 AS (SELECT qvec AS qv, nrm2 AS qnrm2 FROM n8 WHERE vec_id = 0),
        d AS (SELECT n8.vec_id,
                CAST(list_sum(list_transform(n8.qvec, (x, i) ->
                  CAST(x AS INTEGER)*CAST(q0.qv[i] AS INTEGER))) AS BIGINT) AS dot,
                n8.nrm2, q0.qnrm2
              FROM n8, q0
              WHERE n8.vec_id <> 0
                AND n8.vec_id IN (SELECT a.vec_id FROM assign a
                                  JOIN probes p ON p.label = a.label))
        SELECT vec_id,
               round(CAST(dot AS DOUBLE) /
                     (sqrt(CAST(nrm2 AS DOUBLE))*sqrt(CAST(qnrm2 AS DOUBLE))), 9)
                 AS cosine
        FROM d WHERE nrm2 > 0 AND qnrm2 > 0
        ORDER BY cosine DESC, vec_id LIMIT 10""")),

    // ---- SQ8 recall gate (q88) ------------------------------------------
    // q58 measures recall through PROBE TRUNCATION; this gate measures
    // it through QUANTIZATION ERROR — the number a user adopting the
    // 4x-smaller SQ8 index actually needs. Same exact decimal full-scan
    // top-10 as the yardstick, same nprobe=2 for BOTH searches, so the
    // float-IVF row is the controlled baseline and the delta between
    // the two rows is purely the int8 payload's ranking error. The
    // float branch reruns q58's discipline (k=50 double cut, decimal
    // rerank); the SQ8 branch ranks on the integer-exact rounded
    // cosine directly (q86's portability argument: int products sum
    // exactly into a long, both engines cut the same rounded value),
    // because reranking SQ8 candidates in float would wash out the
    // very error being measured. One exact baseline, checkpointed once
    // (q57/q58's plan-reuse discipline).
    QueryDef("q88_sq8_recall",
      (s, dir) => {
        val e = emb(s, dir)
        val cents = labelCentsDecimal(e)
        val qvec = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val base = sys.props("java.io.tmpdir") +
          s"/graft_ivf_q88_${java.lang.Integer.toHexString(dir.hashCode)}"
        // Both builds read the BARE scan (q58's rationale); the
        // decimal recall yardstick keeps the widened e. The two builds
        // (own paths) and the exact yardstick are independent — overlap
        // them (guide §2.6, gated fork).
        import graft.functions.ColumnLib.fork
        val eN = embNarrow(s, dir)
        val bF = fork(s)(
          Similarity.ivfWrite(eN, "vec_id", "embedding", cents, s"$base/float"))
        val b8F = fork(s)(Similarity.ivfWriteSq8(eN.select("vec_id", "embedding"),
          "vec_id", "embedding", cents, s"$base/sq8"))
        val exF = fork(s)(decimalRerankTop10(e, e.select("vec_id"))
          .select("vec_id").localCheckpoint(true))
        graft.functions.ColumnLib.awaitAll(bF, b8F, exF)
        val exact = exF()
        def recallRow(method: String, top: DataFrame): DataFrame =
          exact.join(top.select(col("vec_id"), lit(1).as("hit")),
              Seq("vec_id"), "left")
            .agg(coalesce(sum(col("hit")), lit(0)).cast(LongType).as("hits"),
              count(lit(1)).as("total"))
            .select(lit(method).as("method"), col("hits"), col("total"),
              round(col("hits").cast(DoubleType) /
                col("total").cast(DoubleType), 9).as("recall"))
        val floatTop = decimalRerankTop10(e,
          Similarity.ivfSearch(s, s"$base/float", "vec_id", "embedding",
            cents, qvec, k = 50, nprobe = 2).select("vec_id"))
          .select("vec_id")
        val sq8Top = Similarity.ivfSearchSq8(s, s"$base/sq8", "vec_id",
          cents, qvec, k = 10, nprobe = 2).select("vec_id")
        recallRow("ivf_float", floatTop)
          .union(recallRow("ivf_sq8", sq8Top))
          .orderBy("method")
      },
      Some(s"""
        WITH $ivfAssignCte,
        q AS (SELECT pos, v FROM e WHERE vec_id = 0),
        qn AS (SELECT CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn FROM q),
        pc AS (SELECT cd.label,
                      CAST(SUM(CAST(cd.c*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM centd cd JOIN q ON q.pos = cd.pos GROUP BY 1),
        probes AS (SELECT pc.label FROM pc JOIN cn USING (label), qn
                   ORDER BY pc.dot/(sqrt(cn.nn)*sqrt(qn.nn)) DESC, pc.label
                   LIMIT 2),
        dall AS (SELECT e.vec_id,
                        CAST(SUM(CAST(e.v*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
                 FROM e JOIN q ON q.pos = e.pos GROUP BY 1),
        sc AS (SELECT vec_id, round(dot/(sqrt(vn.nn)*sqrt(qn.nn)), 9) AS cosine
               FROM dall JOIN vn USING (vec_id), qn
               WHERE vn.nn > 0 AND qn.nn > 0),
        ex AS (SELECT vec_id FROM (
                 SELECT vec_id,
                        row_number() OVER (ORDER BY cosine DESC, vec_id) AS rk
                 FROM sc) WHERE rk <= 10),
        apf AS (SELECT vec_id FROM (
                  SELECT sc.vec_id,
                         row_number() OVER (ORDER BY sc.cosine DESC, sc.vec_id) AS rk
                  FROM sc JOIN assign a ON a.vec_id = sc.vec_id
                  WHERE a.label IN (SELECT label FROM probes))
                WHERE rk <= 10),
        $int8Cte,
        n8 AS (SELECT vec_id, qvec,
                 CAST(list_sum(list_transform(qvec,
                   x -> CAST(x AS INTEGER)*CAST(x AS INTEGER))) AS BIGINT) AS nrm2
               FROM qz),
        q0 AS (SELECT qvec AS qv, nrm2 AS qnrm2 FROM n8 WHERE vec_id = 0),
        d8 AS (SELECT n8.vec_id,
                 CAST(list_sum(list_transform(n8.qvec, (x, i) ->
                   CAST(x AS INTEGER)*CAST(q0.qv[i] AS INTEGER))) AS BIGINT) AS dot,
                 n8.nrm2, q0.qnrm2
               FROM n8, q0
               WHERE n8.vec_id IN (SELECT a.vec_id FROM assign a
                                   JOIN probes p ON p.label = a.label)),
        sq8t AS (SELECT vec_id FROM (
                   SELECT vec_id,
                          row_number() OVER (ORDER BY
                            round(CAST(dot AS DOUBLE) /
                              (sqrt(CAST(nrm2 AS DOUBLE))*sqrt(CAST(qnrm2 AS DOUBLE))),
                              9) DESC, vec_id) AS rk
                   FROM d8 WHERE nrm2 > 0 AND qnrm2 > 0)
                 WHERE rk <= 10),
        raw AS (
          SELECT 'ivf_float' AS method,
                 (SELECT count(*) FROM apf JOIN ex USING (vec_id)) AS hits,
                 (SELECT count(*) FROM ex) AS total
          UNION ALL
          SELECT 'ivf_sq8',
                 (SELECT count(*) FROM sq8t JOIN ex USING (vec_id)),
                 (SELECT count(*) FROM ex))
        SELECT method, hits, total,
               round(CAST(hits AS DOUBLE) / CAST(total AS DOUBLE), 9) AS recall
        FROM raw ORDER BY method""")),

    // ---- batch SQ8 search: the multi-query quantized serving shape ------
    // q67's distributed batch shape (per-query bounded-heap probe
    // selection, one equality join against the cluster-partitioned
    // index, bounded-heap top-k) composed with q86's integer score
    // path — the form a production embedding service actually runs:
    // thousands of queries against the 4x-smaller index in one plan.
    // Queries are quantized IN THE PLAN (quantizeInt8's expression,
    // map-side, once per query); the in-cluster score is int8 products
    // summed exactly into a long, so unlike q67 no k margin or decimal
    // rerank is needed — both engines cut the same rounded value at
    // k=5 directly. Self-matches are excluded by the operator's batch
    // contract.
    QueryDef("q89_sq8_batch",
      (s, dir) => {
        val e = emb(s, dir)
        val cents = labelCentsDecimal(e)
        val path = sys.props("java.io.tmpdir") +
          s"/graft_ivf_q89_${java.lang.Integer.toHexString(dir.hashCode)}/index"
        Similarity.ivfWriteSq8(e.select("vec_id", "embedding"),
          "vec_id", "embedding", cents, path)
        val qs = e.filter(col("vec_id") % 97 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec_f"))
        Similarity.ivfSearchBatchSq8(s, path, "vec_id", cents,
            qs, "qid", "qvec_f", k = 5, nprobe = 2)
          .orderBy(col("qid"), col("cosine").desc, col("vec_id"))
      },
      Some(s"""
        WITH $ivfAssignCte,
        qs AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id % 97 = 0),
        qe AS (SELECT q.qid, e.pos, e.v FROM qs q JOIN e ON e.vec_id = q.qid),
        qn AS (SELECT qid, CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn
               FROM qe GROUP BY 1),
        pc AS (SELECT qe.qid, cd.label,
                      CAST(SUM(CAST(cd.c*qe.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM centd cd JOIN qe ON qe.pos = cd.pos GROUP BY 1, 2),
        probes AS (SELECT qid, label FROM (
                     SELECT pc.qid, pc.label,
                            row_number() OVER (PARTITION BY pc.qid
                              ORDER BY pc.dot/(sqrt(cn.nn)*sqrt(qn.nn)) DESC,
                                       pc.label) AS rk
                     FROM pc JOIN cn USING (label) JOIN qn USING (qid))
                   WHERE rk <= 2),
        $int8Cte,
        n8 AS (SELECT vec_id, qvec,
                 CAST(list_sum(list_transform(qvec,
                   x -> CAST(x AS INTEGER)*CAST(x AS INTEGER))) AS BIGINT) AS nrm2
               FROM qz),
        cand AS (SELECT p.qid, a.vec_id
                 FROM probes p JOIN assign a ON a.label = p.label
                 WHERE a.vec_id <> p.qid),
        d8 AS (SELECT c.qid, c.vec_id,
                 CAST(list_sum(list_transform(nv.qvec, (x, i) ->
                   CAST(x AS INTEGER)*CAST(nq.qvec[i] AS INTEGER))) AS BIGINT) AS dot,
                 nv.nrm2, nq.nrm2 AS qnrm2
               FROM cand c
               JOIN n8 nv ON nv.vec_id = c.vec_id
               JOIN n8 nq ON nq.vec_id = c.qid)
        SELECT qid, vec_id, cosine FROM (
          SELECT qid, vec_id,
                 round(CAST(dot AS DOUBLE) /
                   (sqrt(CAST(nrm2 AS DOUBLE))*sqrt(CAST(qnrm2 AS DOUBLE))),
                   9) AS cosine,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY round(CAST(dot AS DOUBLE) /
                     (sqrt(CAST(nrm2 AS DOUBLE))*sqrt(CAST(qnrm2 AS DOUBLE))),
                     9) DESC, vec_id) AS rk
          FROM d8 WHERE nrm2 > 0 AND qnrm2 > 0)
        WHERE rk <= 5
        ORDER BY qid, cosine DESC, vec_id""")),

    // ---- quantized ANN: retrieval over the int8 vectors (q69) ------------
    // Closes the quantization loop: brute-force cosine top-10 computed
    // ENTIRELY on q68's int8 vectors. Cosine is scale-invariant, so the
    // per-vector quantization scales cancel and the whole score is
    // integer arithmetic — int8 products summed into a long (exact and
    // order-free; the int dot is what SIMD engines actually execute) —
    // followed by one sqrt/divide of identical inputs. No decimal
    // accumulation is needed anywhere: this is the cheap-at-100TB score
    // path the decimal-exact float queries cannot be.
    // ---- product quantization + ADC search (q96) -------------------------
    // The last rung of the compression ladder (flat → IVF → SQ8 → PQ):
    // 64-dim vectors become m=16 codes of 2 bits here (4 sign-seeded
    // centroids per 4-dim subspace) — the structure of a FAISS PQ
    // index at toy codebook size. Codebook = per-(subspace, bucket)
    // decimal-grid means; encoding = per-subspace nearest centroid by
    // decimal-exact L2² rounded to the 1e-9 grid (cluster-id
    // tiebreak); search = ADC, the query dotted against each vector's
    // RECONSTRUCTION — decimal accumulation over all 64 positions, so
    // the classic per-subspace LUT sum happens inside one exact sum
    // with no cross-engine float-ordering hazard. The production float
    // path ([[Similarity.pqCodebook]]/pqEncode/pqAdcTopK) is
    // spec-pinned in SimilaritySpec; this gate walks the same
    // trajectory on the portable decimal grid, exactly like the
    // q54/q59 IVF gates. Every stage is joins + hash aggregates —
    // codebook and codes broadcast (m·4 rows and m rows/vector); at
    // corpus scale the only O(corpus) stages are the two map-side
    // passes (encode, ADC join).
    QueryDef("q96_pq_adc",
      (s, dir) => {
        pqAdcScores(s, dir)
          .orderBy(col("score").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""
        WITH $pqCte
        SELECT vec_id, score FROM pqsc
        ORDER BY score DESC, vec_id LIMIT 10""")),

    // ---- PQ recall gate (q97) --------------------------------------------
    // The adoption number for q96's 64x compression: recall@10 of the
    // ADC ranking against the decimal-exact INNER-PRODUCT top-10 (ADC
    // approximates the dot, so the dot is its yardstick — the cosine
    // gates q57/q58/q88 measure the other score path). Same
    // hits/total/recall shape as q88, one method row.
    QueryDef("q97_pq_recall",
      (s, dir) => {
        val adcTop = pqAdcScores(s, dir)
          .orderBy(col("score").desc, col("vec_id"))
          .limit(10).select("vec_id")
        val e = emb(s, dir)
        val ex = e
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "vf")))
          .select(col("vec_id"), col("pos"), col("vf").cast(DoubleType).as("v"))
        val q = ex.filter(col("vec_id") === 0)
          .select(col("pos"), col("v").as("qv"))
        val exactTop = ex.join(broadcast(q), "pos")
          .groupBy("vec_id")
          .agg(sum((col("v") * col("qv")).cast(D)).as("sd"))
          .select(col("vec_id"), round(col("sd").cast(DoubleType), 9).as("dot"))
          .orderBy(col("dot").desc, col("vec_id"))
          .limit(10).select("vec_id")
        exactTop.join(adcTop.withColumn("hit", lit(1)), Seq("vec_id"), "left")
          .agg(coalesce(sum(col("hit")), lit(0)).cast(LongType).as("hits"),
            count(lit(1)).as("total"))
          .select(lit("pq_adc").as("method"), col("hits"), col("total"),
            round(col("hits").cast(DoubleType) /
              col("total").cast(DoubleType), 9).as("recall"))
      },
      Some(s"""
        WITH $pqCte,
        adct AS (SELECT vec_id FROM (
                   SELECT vec_id, row_number() OVER (
                     ORDER BY score DESC, vec_id) AS rk FROM pqsc)
                 WHERE rk <= 10),
        exd AS (SELECT ex.vec_id,
                       round(CAST(SUM(CAST(ex.v * q.qv AS DECIMAL(38,18)))
                             AS DOUBLE), 9) AS dot
                FROM ex JOIN q ON q.pos = ex.pos GROUP BY 1),
        ext AS (SELECT vec_id FROM (
                  SELECT vec_id, row_number() OVER (
                    ORDER BY dot DESC, vec_id) AS rk FROM exd)
                WHERE rk <= 10)
        SELECT 'pq_adc' AS method,
               (SELECT count(*) FROM ext JOIN adct USING (vec_id)) AS hits,
               (SELECT count(*) FROM ext) AS total,
               round(CAST((SELECT count(*) FROM ext JOIN adct USING (vec_id))
                          AS DOUBLE) /
                     CAST((SELECT count(*) FROM ext) AS DOUBLE), 9) AS recall""")),

    // ---- IVF-PQ: coarse routing + PQ codes in probed clusters (q99) -----
    // The full FAISS composition: the coarse quantizer (label-centroid
    // IVF, q54's clusters) prunes the search to nprobe=2 clusters, and
    // within them candidates are ranked by ADC over their 4-byte PQ
    // codes (q96's pipeline) — the index never stores float vectors at
    // all. At scale the probe is a partition-pruned read of the
    // cluster-partitioned code table (codes ride the same layout as
    // ivfWrite's) and ADC is one broadcast join per candidate row.
    // Both the coarse assignment and the ADC ranking walk the decimal
    // grid in both engines, so the candidate SET and the final order
    // are portable by construction — no float-vs-decimal margin
    // anywhere.
    QueryDef("q99_ivf_pq",
      (s, dir) => {
        ivfPqTop10(s, dir)
      },
      Some(s"""
        WITH $ivfPqCte
        SELECT vec_id, score FROM pqsc
        WHERE vec_id IN (SELECT a.vec_id FROM assign a
                         JOIN probes p ON p.label = a.label)
        ORDER BY score DESC, vec_id LIMIT 10""")),

    // ---- IVF-PQ recall gate (q100) ---------------------------------------
    // The joint adoption number: q58 measures recall through probe
    // truncation alone, q97 through PQ error alone — this gate
    // measures BOTH at once (recall@10 of q99's IVF-PQ ranking vs the
    // decimal-exact inner-product top-10), which is the number an
    // IVF-PQ deployment actually experiences.
    QueryDef("q100_ivfpq_recall",
      (s, dir) => {
        val top = ivfPqTop10(s, dir).select("vec_id")
        val e = emb(s, dir)
        val ex = e
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "vf")))
          .select(col("vec_id"), col("pos"), col("vf").cast(DoubleType).as("v"))
        val q = ex.filter(col("vec_id") === 0)
          .select(col("pos"), col("v").as("qv"))
        val exactTop = ex.join(broadcast(q), "pos")
          .groupBy("vec_id")
          .agg(sum((col("v") * col("qv")).cast(D)).as("sd"))
          .select(col("vec_id"), round(col("sd").cast(DoubleType), 9).as("dot"))
          .orderBy(col("dot").desc, col("vec_id"))
          .limit(10).select("vec_id")
        exactTop.join(top.withColumn("hit", lit(1)), Seq("vec_id"), "left")
          .agg(coalesce(sum(col("hit")), lit(0)).cast(LongType).as("hits"),
            count(lit(1)).as("total"))
          .select(lit("ivf_pq").as("method"), col("hits"), col("total"),
            round(col("hits").cast(DoubleType) /
              col("total").cast(DoubleType), 9).as("recall"))
      },
      Some(s"""
        WITH $ivfPqCte,
        adct AS (SELECT vec_id FROM (
                   SELECT vec_id, row_number() OVER (
                     ORDER BY score DESC, vec_id) AS rk
                   FROM pqsc
                   WHERE vec_id IN (SELECT a.vec_id FROM assign a
                                    JOIN probes p ON p.label = a.label))
                 WHERE rk <= 10),
        exd AS (SELECT ex.vec_id,
                       round(CAST(SUM(CAST(ex.v * q.qv AS DECIMAL(38,18)))
                             AS DOUBLE), 9) AS dot
                FROM ex JOIN q ON q.pos = ex.pos GROUP BY 1),
        ext AS (SELECT vec_id FROM (
                  SELECT vec_id, row_number() OVER (
                    ORDER BY dot DESC, vec_id) AS rk FROM exd)
                WHERE rk <= 10)
        SELECT 'ivf_pq' AS method,
               (SELECT count(*) FROM ext JOIN adct USING (vec_id)) AS hits,
               (SELECT count(*) FROM ext) AS total,
               round(CAST((SELECT count(*) FROM ext JOIN adct USING (vec_id))
                          AS DOUBLE) /
                     CAST((SELECT count(*) FROM ext) AS DOUBLE), 9) AS recall""")),

    // ---- two-stage IVF-PQ serving: ADC shortlist + exact re-rank (q108) --
    // The production IVF-PQ recipe: quantized ADC scores are cheap but
    // lossy, so serve in two stages — shortlist k' = 4k candidates by
    // ADC, then re-rank ONLY those k' with exact full-precision dots
    // and cut to k. The exact stage touches 40 vectors instead of the
    // corpus, so it costs nothing at scale, and it removes the PQ
    // quantization error from the final ranking — the residual miss is
    // probe truncation alone (whatever never entered the probed
    // clusters cannot be recovered). The gate emits recall@10 for
    // ADC-only vs ADC+rerank at the SAME probe budget (nprobe=2), so
    // the rerank's contribution is isolated and measurable.
    QueryDef("q108_adc_rerank",
      (s, dir) => {
        val e = emb(s, dir)
        val ex = e
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "vf")))
          .select(col("vec_id"), col("pos"), col("vf").cast(DoubleType).as("v"))
        val q = ex.filter(col("vec_id") === 0)
          .select(col("pos"), col("v").as("qv"))
        // Yardstick: the corpus-wide exact top-10 — independent of the
        // whole ADC chain, so its blocking materialization runs
        // CONCURRENTLY with the PQ training below (guide §2.6; the
        // q171/q205 posture).
        val exF = graft.functions.ColumnLib.fork(s)(
          ex.join(broadcast(q), "pos")
            .groupBy("vec_id")
            .agg(sum((col("v") * col("qv")).cast(D)).as("sd"))
            .select(col("vec_id"),
              round(col("sd").cast(DoubleType), 9).as("dot"))
            .orderBy(col("dot").desc, col("vec_id"))
            .limit(10).select("vec_id").localCheckpoint(true))
        // Stage 1: ADC shortlist k' = 4k from the probed clusters
        // (k' rows; read twice below — once for the ADC-only cut,
        // once as the re-rank candidate set).
        val short = ivfPqRanked(s, dir)
          .orderBy(col("score").desc, col("vec_id"))
          .limit(40).localCheckpoint(true)
        val adcTop = short.orderBy(col("score").desc, col("vec_id"))
          .limit(10).select("vec_id")
        // Stage 2: exact decimal dots for the shortlist ONLY.
        val rrTop = ex
          .join(broadcast(short.select("vec_id")), Seq("vec_id"), "left_semi")
          .join(broadcast(q), "pos")
          .groupBy("vec_id")
          .agg(sum((col("v") * col("qv")).cast(D)).as("sd"))
          .select(col("vec_id"), round(col("sd").cast(DoubleType), 9).as("dot"))
          .orderBy(col("dot").desc, col("vec_id"))
          .limit(10).select("vec_id")
        val exactTop = exF()
        def recallRow(method: String, top: DataFrame): DataFrame =
          exactTop.join(top.withColumn("hit", lit(1)), Seq("vec_id"), "left")
            .agg(coalesce(sum(col("hit")), lit(0)).cast(LongType).as("hits"),
              count(lit(1)).as("total"))
            .select(lit(method).as("method"), col("hits"), col("total"),
              round(col("hits").cast(DoubleType) /
                col("total").cast(DoubleType), 9).as("recall"))
        recallRow("adc_only", adcTop)
          .unionByName(recallRow("adc_rerank", rrTop))
          .orderBy("method")
      },
      Some(s"""
        WITH $ivfPqCte,
        shortl AS (SELECT vec_id FROM (
                     SELECT vec_id, row_number() OVER (
                       ORDER BY score DESC, vec_id) AS rk
                     FROM pqsc
                     WHERE vec_id IN (SELECT a.vec_id FROM assign a
                                      JOIN probes p ON p.label = a.label))
                   WHERE rk <= 40),
        adct AS (SELECT vec_id FROM (
                   SELECT vec_id, row_number() OVER (
                     ORDER BY score DESC, vec_id) AS rk
                   FROM pqsc
                   WHERE vec_id IN (SELECT a.vec_id FROM assign a
                                    JOIN probes p ON p.label = a.label))
                 WHERE rk <= 10),
        exd AS (SELECT ex.vec_id,
                       round(CAST(SUM(CAST(ex.v * q.qv AS DECIMAL(38,18)))
                             AS DOUBLE), 9) AS dot
                FROM ex JOIN q ON q.pos = ex.pos GROUP BY 1),
        rrt AS (SELECT vec_id FROM (
                  SELECT exd.vec_id, row_number() OVER (
                    ORDER BY exd.dot DESC, exd.vec_id) AS rk
                  FROM exd JOIN shortl USING (vec_id))
                WHERE rk <= 10),
        ext AS (SELECT vec_id FROM (
                  SELECT vec_id, row_number() OVER (
                    ORDER BY dot DESC, vec_id) AS rk FROM exd)
                WHERE rk <= 10)
        SELECT method, hits, total, recall FROM (
          SELECT 'adc_only' AS method,
                 (SELECT count(*) FROM ext JOIN adct USING (vec_id)) AS hits,
                 (SELECT count(*) FROM ext) AS total,
                 round(CAST((SELECT count(*) FROM ext
                             JOIN adct USING (vec_id)) AS DOUBLE) /
                       CAST((SELECT count(*) FROM ext) AS DOUBLE), 9) AS recall
          UNION ALL
          SELECT 'adc_rerank' AS method,
                 (SELECT count(*) FROM ext JOIN rrt USING (vec_id)) AS hits,
                 (SELECT count(*) FROM ext) AS total,
                 round(CAST((SELECT count(*) FROM ext
                             JOIN rrt USING (vec_id)) AS DOUBLE) /
                       CAST((SELECT count(*) FROM ext) AS DOUBLE), 9) AS recall)
        ORDER BY method""")),

    // ---- incremental IVF ingest ----------------------------------------
    // The production vector store never rebuilds for an arriving batch:
    // the coarse quantizer is FROZEN at build time, new vectors are
    // assigned to the existing centroids and appended into the
    // cluster-partitioned layout (Similarity.ivfAppend — FAISS's
    // add-after-train). q130 gates the core equivalence END TO END:
    // build on the even half, append the odd half, search — and the
    // oracle restates a search over ONE index of all vectors routed by
    // the build-half centroids. The oracle knows nothing about the
    // split, so a hash match proves search-after-append ≡
    // search-after-full-rebuild against an independent engine (the
    // in-engine form of the same claim is SimilaritySpec's three-layout
    // pin). Decimal-grid centroids + the family's portable rerank, as
    // q54/q59/q67.
    QueryDef("q130_ivf_append",
      (s, dir) => {
        val e = emb(s, dir)
        val build = e.filter(col("vec_id") % 2 === 0)
        val delta = e.filter(col("vec_id") % 2 === 1)
        val cents = decimalGridCentroids(build, "label").localCheckpoint(true)
        val path = sys.props("java.io.tmpdir") +
          s"/graft_ivf_q130_${java.lang.Integer.toHexString(dir.hashCode)}/index"
        Similarity.ivfWrite(build.select("vec_id", "embedding"), "vec_id",
          "embedding", cents, path)
        Similarity.ivfAppend(delta.select("vec_id", "embedding"), "vec_id",
          "embedding", cents, path, "delta")
        val qvec = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val hits = Similarity.ivfSearch(s, path, "vec_id", "embedding",
          cents, qvec, k = 50, nprobe = 2)
        decimalRerankTop10(e, hits.select("vec_id"))
      },
      Some("""
        WITH e AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
                          generate_subscripts(embedding, 1) AS pos
                   FROM embeddings),
        cent AS (SELECT label, pos,
                        CAST(round(CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE)
                          / count(*), 9) AS REAL) AS cf
                 FROM e WHERE vec_id % 2 = 0 GROUP BY 1, 2),
        centd AS (SELECT label, pos, CAST(cf AS DOUBLE) AS c FROM cent),
        cn AS (SELECT label, CAST(SUM(CAST(c*c AS DECIMAL(38,18))) AS DOUBLE) AS nn
               FROM centd GROUP BY 1),
        vn AS (SELECT vec_id, CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn
               FROM e GROUP BY 1),
        vc AS (SELECT e.vec_id, cd.label,
                      CAST(SUM(CAST(e.v*cd.c AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM e JOIN centd cd ON cd.pos = e.pos GROUP BY 1, 2),
        assign AS (SELECT vec_id, label FROM (
                     SELECT vc.vec_id, vc.label,
                            row_number() OVER (PARTITION BY vc.vec_id
                              ORDER BY vc.dot/(sqrt(vn.nn)*sqrt(cn.nn)) DESC,
                                       vc.label) AS rk
                     FROM vc JOIN vn USING (vec_id) JOIN cn USING (label))
                   WHERE rk = 1),
        q AS (SELECT pos, v FROM e WHERE vec_id = 0),
        qn AS (SELECT CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn FROM q),
        pc AS (SELECT cd.label,
                      CAST(SUM(CAST(cd.c*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM centd cd JOIN q ON q.pos = cd.pos GROUP BY 1),
        probes AS (SELECT pc.label FROM pc JOIN cn USING (label), qn
                   ORDER BY pc.dot/(sqrt(cn.nn)*sqrt(qn.nn)) DESC, pc.label
                   LIMIT 2),
        d AS (SELECT e.vec_id,
                     CAST(SUM(CAST(e.v*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
              FROM e JOIN q ON q.pos = e.pos
              WHERE e.vec_id IN (SELECT a.vec_id FROM assign a
                                 JOIN probes USING (label))
              GROUP BY 1)
        SELECT vec_id, round(dot/(sqrt(vn.nn)*sqrt(qn.nn)), 9) AS cosine
        FROM d JOIN vn USING (vec_id), qn
        WHERE vn.nn > 0 AND qn.nn > 0
        ORDER BY round(dot/(sqrt(vn.nn)*sqrt(qn.nn)), 9) DESC, vec_id
        LIMIT 10""")),

    // What appending cannot give is adaptation: frozen centroids fit a
    // drifted batch worse and worse, and recall decays SILENTLY unless
    // the drift is measured. q131 gates the measurement itself — the
    // exact per-batch assignment-tightness statistic the ivfAppend
    // sidecar records (mean cosine to the assigned centroid), restated
    // on the portable decimal grid over three batches: the build half,
    // an in-distribution append (the odd half), and a deliberately
    // SHIFTED append (the odd half with every embedding reversed —
    // norm-preserving, so only the direction distribution moves). The
    // gate proves the statistic separates them: build drift 0, b1
    // drift ~0, b2 drift visibly positive. The sidecar plumbing
    // (Observation on the written rows, ivfStats ledger) is pinned in
    // SimilaritySpec.
    QueryDef("q131_ivf_drift",
      (s, dir) => {
        def dot(a: Column, b: Column) = call_function("dot_exact", a, b)
        val e = emb(s, dir)
        val odd = e.filter(col("vec_id") % 2 === 1)
        val batches =
          e.filter(col("vec_id") % 2 === 0)
            .select(lit("build").as("batch"), col("vec_id"), col("embedding"))
          .union(odd.select(lit("b1").as("batch"), col("vec_id"),
            col("embedding")))
          .union(odd.select(lit("b2").as("batch"), col("vec_id"),
            reverse(col("embedding")).as("embedding")))
        val cents = decimalGridCentroids(e.filter(col("vec_id") % 2 === 0),
          "label").localCheckpoint(true)
        val cn = broadcast(cents.withColumn("__cn",
          sqrt(dot(col("centroid"), col("centroid")))))
        val assigned = graft.functions.ColumnLib.latestWins(
          batches
            .withColumn("__vn", sqrt(dot(col("embedding"), col("embedding"))))
            .crossJoin(cn)
            .withColumn("sim",
              round(dot(col("embedding"), col("centroid")) /
                (col("__vn") * col("__cn")), 9)),
          Seq("batch", "vec_id"),
          Seq(col("sim").desc_nulls_last, col("cluster").asc))
        val per = assigned.filter(col("sim").isNotNull)
          .groupBy("batch")
          .agg(count(lit(1)).as("n"),
            round(sum(col("sim").cast(D)).cast(DoubleType) /
              count(lit(1)).cast(DoubleType), 9).as("mean_sim"))
        val base = per.filter(col("batch") === "build")
          .select(col("mean_sim").as("__bm"))
        per.crossJoin(broadcast(base))
          .select(col("batch"), col("n"), col("mean_sim"),
            round(col("__bm") - col("mean_sim"), 9).as("drift"))
          .orderBy("batch")
      },
      Some("""
        WITH e AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
                          generate_subscripts(embedding, 1) AS pos
                   FROM embeddings),
        dims AS (SELECT vec_id, len(embedding) AS nd FROM embeddings),
        cent AS (SELECT label, pos,
                        CAST(round(CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE)
                          / count(*), 9) AS REAL) AS cf
                 FROM e WHERE vec_id % 2 = 0 GROUP BY 1, 2),
        centd AS (SELECT label, pos, CAST(cf AS DOUBLE) AS c FROM cent),
        cn AS (SELECT label, CAST(SUM(CAST(c*c AS DECIMAL(38,18))) AS DOUBLE) AS nn
               FROM centd GROUP BY 1),
        b AS (SELECT 'build' AS batch, vec_id, pos, v FROM e WHERE vec_id % 2 = 0
              UNION ALL
              SELECT 'b1', vec_id, pos, v FROM e WHERE vec_id % 2 = 1
              UNION ALL
              SELECT 'b2', e.vec_id, dims.nd + 1 - e.pos AS pos, v
              FROM e JOIN dims USING (vec_id) WHERE vec_id % 2 = 1),
        bn AS (SELECT batch, vec_id,
                      CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn
               FROM b GROUP BY 1, 2),
        bc AS (SELECT b.batch, b.vec_id, cd.label,
                      CAST(SUM(CAST(b.v*cd.c AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM b JOIN centd cd ON cd.pos = b.pos GROUP BY 1, 2, 3),
        sims AS (SELECT batch, vec_id, sim FROM (
                   SELECT bc.batch, bc.vec_id,
                          round(bc.dot/(sqrt(bn.nn)*sqrt(cn.nn)), 9) AS sim,
                          row_number() OVER (PARTITION BY bc.batch, bc.vec_id
                            ORDER BY round(bc.dot/(sqrt(bn.nn)*sqrt(cn.nn)), 9)
                              DESC, bc.label) AS rk
                   FROM bc JOIN bn USING (batch, vec_id) JOIN cn USING (label)
                   WHERE bn.nn > 0 AND cn.nn > 0)
                 WHERE rk = 1),
        per AS (SELECT batch, count(*) AS n,
                       round(CAST(SUM(CAST(sim AS DECIMAL(38,18))) AS DOUBLE)
                         / count(*), 9) AS mean_sim
                FROM sims GROUP BY 1)
        SELECT per.batch, per.n, per.mean_sim,
               round(base.mean_sim - per.mean_sim, 9) AS drift
        FROM per, (SELECT mean_sim FROM per WHERE batch = 'build') base
        ORDER BY per.batch""")),

    QueryDef("q69_quantized_ann",
      (s, dir) => {
        def int8(e: DataFrame): DataFrame =
          Similarity.quantizeInt8(e, "embedding").select("vec_id", "qvec")
        def idot(a: Column, b: Column): Column =
          aggregate(
            zip_with(a, b, (x, y) => (x.cast(IntegerType) * y.cast(IntegerType))
              .cast(LongType)),
            lit(0L), (acc, x) => acc + x)
        val qd = int8(emb(s, dir))
          .withColumn("nrm2", idot(col("qvec"), col("qvec")))
        val q0 = qd.filter(col("vec_id") === 0)
          .select(col("qvec").as("q0"), col("nrm2").as("qnrm2"))
        qd.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q0))
          .filter(col("nrm2") > 0 && col("qnrm2") > 0)
          .select(col("vec_id"),
            round(idot(col("qvec"), col("q0")).cast(DoubleType) /
              (sqrt(col("nrm2").cast(DoubleType)) *
                sqrt(col("qnrm2").cast(DoubleType))), 9).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""
        WITH $int8Cte,
        n AS (SELECT vec_id, qvec,
                CAST(list_sum(list_transform(qvec,
                  x -> CAST(x AS INTEGER)*CAST(x AS INTEGER))) AS BIGINT) AS nrm2
              FROM qz),
        q0 AS (SELECT qvec AS qv, nrm2 AS qnrm2 FROM n WHERE vec_id = 0),
        d AS (SELECT n.vec_id,
                CAST(list_sum(list_transform(n.qvec, (x, i) ->
                  CAST(x AS INTEGER)*CAST(q0.qv[i] AS INTEGER))) AS BIGINT) AS dot,
                n.nrm2, q0.qnrm2
              FROM n, q0 WHERE n.vec_id <> 0)
        SELECT vec_id,
               round(CAST(dot AS DOUBLE) /
                     (sqrt(CAST(nrm2 AS DOUBLE))*sqrt(CAST(qnrm2 AS DOUBLE))), 9)
                 AS cosine
        FROM d WHERE nrm2 > 0 AND qnrm2 > 0
        ORDER BY cosine DESC, vec_id LIMIT 10""")),

    // ---- Johnson–Lindenstrauss random projection (q169) -----------------
    // Deterministic ±1 Rademacher projection 64 → 8 dims — the
    // dimensionality-reduction rung ahead of the ANN ladder (index
    // build cost scales with d; JL provably (1±ε)-preserves pairwise
    // distances). The sign matrix regenerates from md5 parity (no
    // storage); per-dimension sums accumulate in DECIMAL(38,18) so
    // both engines assemble identical doubles; the scale multiplier
    // 1/√8 is one shared double constant. Output pivoted to columns
    // (comparator cannot sort arrays). Operator:
    // [[graft.operators.Similarity.randomProject]].
    QueryDef("q169_random_projection",
      (s, dir) => {
        val p = graft.operators.Similarity.randomProject(
          emb(s, dir), "vec_id", "embedding", outDim = 8, salt = "jl")
        p.select(col("vec_id") +:
            (0 until 8).map(j => col("projected")(j).as(s"y$j")): _*)
          .orderBy("vec_id")
      },
      Some("""
        WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                          generate_subscripts(embedding, 1) AS pos
                   FROM embeddings),
        dims AS (SELECT DISTINCT pos - 1 AS i FROM e),
        r AS (SELECT dims.i, j.j,
                     CASE WHEN CAST('0x' ||
                         substr(md5('jl:' || dims.i || ':' || j.j), 1, 1)
                       AS INTEGER) % 2 = 0
                       THEN 1.0 ELSE -1.0 END AS r
              FROM dims, range(8) j(j)),
        acc AS (SELECT e.vec_id, r.j,
                       CAST(SUM(CAST(e.v * r.r AS DECIMAL(38,18)))
                         AS DOUBLE) AS a
                FROM e JOIN r ON r.i = e.pos - 1
                GROUP BY 1, 2),
        y AS (SELECT vec_id, j, round(a * (1.0 / sqrt(8.0)), 9) AS y
              FROM acc)
        SELECT vec_id,
               max(CASE WHEN j = 0 THEN y END) AS y0,
               max(CASE WHEN j = 1 THEN y END) AS y1,
               max(CASE WHEN j = 2 THEN y END) AS y2,
               max(CASE WHEN j = 3 THEN y END) AS y3,
               max(CASE WHEN j = 4 THEN y END) AS y4,
               max(CASE WHEN j = 5 THEN y END) AS y5,
               max(CASE WHEN j = 6 THEN y END) AS y6,
               max(CASE WHEN j = 7 THEN y END) AS y7
        FROM y GROUP BY 1 ORDER BY 1""")),

    // ---- residual-encoded IVF-PQ vs raw, recall head-to-head (q171) -----
    // The FAISS production recipe measured against q99's raw encoding
    // UNDER IDENTICAL EVERYTHING ELSE (same coarse route, same probe
    // set, same m=16/w=4 codebook seeding): PQ trained on residuals
    // v − c, scored as ⟨q,c⟩ + ⟨q,r̂⟩ where the coarse term is exact
    // and only the residual is quantized. Output: recall@10 of BOTH
    // variants against the decimal-exact top-10, side by side — the
    // adoption argument for residual encoding as a verified number.
    QueryDef("q171_residual_pq",
      (s, dir) => {
        import graft.functions.ColumnLib.fork
        // The raw PQ training does not read the coarse parts at all —
        // start it FIRST so it overlaps the coarse stage's two blocking
        // cuts as well as everything below (guide §2.6).
        val rawF = fork(s)(pqParts(s, dir))
        val parts = coarseParts(s, dir, cut = true)
        // The yardstick and the residual training are independent
        // subtrees over the shared (already-cut) coarse parts, each a
        // chain of blocking materializations that underfills the
        // cluster — build them concurrently (the q205 posture).
        val candidatesF = fork(s)(
          parts.assign
            .join(broadcast(parts.probes), Seq("cluster"), "left_semi")
            .select("vec_id")
            .localCheckpoint(true)) // shared by yardstick + both variants
        val resF = fork(s)(pqResidualParts(s, dir, parts))
        val candidates = candidatesF()
        val q = parts.ex.filter(col("vec_id") === 0)
          .select(col("pos"), col("v").as("qv"))
        // Yardstick: exact top-10 WITHIN the probed candidates — both
        // variants see the same probe truncation, so the number
        // isolates quantization fidelity (what residual encoding
        // changes) from coarse-probe loss (what it cannot change).
        val exactTop = parts.ex
          .join(candidates, Seq("vec_id"), "left_semi")
          .join(broadcast(q), "pos")
          .groupBy("vec_id")
          .agg(sum((col("v") * col("qv")).cast(D)).as("sd"))
          .select(col("vec_id"), round(col("sd").cast(DoubleType), 9).as("dot"))
          .orderBy(col("dot").desc, col("vec_id"))
          .limit(10).select("vec_id")
          .localCheckpoint(true) // read by both recall rows
        def recallOf(method: String, scores: DataFrame): DataFrame = {
          val top = scores.join(candidates, Seq("vec_id"), "left_semi")
            .orderBy(col("score").desc, col("vec_id"))
            .limit(10).select("vec_id")
          exactTop.join(top.withColumn("hit", lit(1)), Seq("vec_id"), "left")
            .agg(coalesce(sum(col("hit")), lit(0)).cast(LongType).as("hits"),
              count(lit(1)).as("total"))
            .select(lit(method).as("method"), col("hits"), col("total"),
              round(col("hits").cast(DoubleType) /
                col("total").cast(DoubleType), 9).as("recall"))
        }
        val raw = rawF()
        val res = resF()
        // Mean squared reconstruction error over the WHOLE corpus in
        // floored micro units — the fidelity number that separates
        // the encodings even when a 10-deep recall cut ties: the
        // residual codebook spends its 2 bits/sub on a tighter,
        // centered distribution. Chosen-code d2 is already on the
        // 1e-9 grid, so the decimal sums are exact in both engines.
        def mseMicro(codes: DataFrame): DataFrame =
          codes
            .groupBy("vec_id").agg(sum(col("d2r").cast(D)).as("e2"))
            .agg(sum(col("e2")).as("se2"), count(lit(1)).as("nv"))
            .select(floor(col("se2").cast(DoubleType) /
                col("nv").cast(DoubleType) * lit(1000000.0))
              .cast(LongType).as("mse_micro"))
        recallOf("ivf_pq_raw", pqAdcScoresFromEx(raw))
          .crossJoin(mseMicro(raw.codes))
          .unionByName(recallOf("ivf_pq_residual", res.scores)
            .crossJoin(mseMicro(res.codes)))
          .orderBy("method")
      },
      Some(s"""
        WITH $ivfPqCte,
        adct AS (SELECT vec_id FROM (
                   SELECT vec_id, row_number() OVER (
                     ORDER BY score DESC, vec_id) AS rk
                   FROM pqsc
                   WHERE vec_id IN (SELECT a.vec_id FROM assign a
                                    JOIN probes p ON p.label = a.label))
                 WHERE rk <= 10),
        exr AS (SELECT ex.vec_id, ex.pos, ex.v - cd.c AS r,
                       CAST(floor(ex.pos / 4) AS INT) AS sub,
                       ex.pos - CAST(floor(ex.pos / 4) AS INT) * 4 AS lpos
                FROM ex
                JOIN assign a ON a.vec_id = ex.vec_id
                JOIN centd cd ON cd.label = a.label AND cd.pos = ex.pos + 1),
        bkr AS (SELECT vec_id, sub,
                  (CASE WHEN max(CASE WHEN lpos = 0 THEN r END) >
                             max(CASE WHEN lpos = 2 THEN r END)
                        THEN '1' ELSE '0' END) ||
                  (CASE WHEN max(CASE WHEN lpos = 1 THEN r END) >
                             max(CASE WHEN lpos = 3 THEN r END)
                        THEN '1' ELSE '0' END) AS cluster
                FROM exr GROUP BY 1, 2),
        cbr AS (SELECT exr.sub, bkr.cluster, exr.lpos,
                       CAST(round(CAST(SUM(CAST(exr.r AS DECIMAL(38,18)))
                                       AS DOUBLE) / count(*), 9) AS REAL) AS c
                FROM exr JOIN bkr
                  ON bkr.vec_id = exr.vec_id AND bkr.sub = exr.sub
                GROUP BY 1, 2, 3),
        cbdr AS (SELECT sub, cluster, lpos, CAST(c AS DOUBLE) AS cd FROM cbr),
        asnr AS (SELECT exr.vec_id, exr.sub, cbdr.cluster,
                        round(CAST(SUM(CAST((exr.r - cbdr.cd) *
                          (exr.r - cbdr.cd) AS DECIMAL(38,18))) AS DOUBLE), 9)
                          AS d2
                 FROM exr JOIN cbdr
                   ON cbdr.sub = exr.sub AND cbdr.lpos = exr.lpos
                 GROUP BY 1, 2, 3),
        codesr AS (SELECT vec_id, sub, cluster FROM (
                     SELECT vec_id, sub, cluster,
                            row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2 ASC, cluster ASC) AS rk
                     FROM asnr) WHERE rk = 1),
        rsc AS (SELECT cdx.vec_id,
                       SUM(CAST(q.qv * cdx.cd AS DECIMAL(38,18))) AS rsd
                FROM (SELECT codesr.vec_id,
                             cbdr.sub * 4 + cbdr.lpos AS pos, cbdr.cd
                      FROM codesr JOIN cbdr
                        ON cbdr.sub = codesr.sub
                       AND cbdr.cluster = codesr.cluster) cdx
                JOIN q ON q.pos = cdx.pos
                GROUP BY 1),
        ctt AS (SELECT a.vec_id,
                       SUM(CAST(q.qv * cd.c AS DECIMAL(38,18))) AS ctd
                FROM assign a
                JOIN centd cd ON cd.label = a.label
                JOIN q ON q.pos = cd.pos - 1
                GROUP BY 1),
        rtop AS (SELECT vec_id FROM (
                   SELECT rsc.vec_id, row_number() OVER (
                     ORDER BY round(CAST(rsc.rsd + ctt.ctd AS DOUBLE), 9)
                       DESC, rsc.vec_id) AS rk
                   FROM rsc JOIN ctt USING (vec_id)
                   WHERE rsc.vec_id IN (SELECT a.vec_id FROM assign a
                                        JOIN probes p ON p.label = a.label))
                 WHERE rk <= 10),
        exd AS (SELECT ex.vec_id,
                       round(CAST(SUM(CAST(ex.v * q.qv AS DECIMAL(38,18)))
                             AS DOUBLE), 9) AS dot
                FROM ex JOIN q ON q.pos = ex.pos
                WHERE ex.vec_id IN (SELECT a.vec_id FROM assign a
                                    JOIN probes p ON p.label = a.label)
                GROUP BY 1),
        ext AS (SELECT vec_id FROM (
                  SELECT vec_id, row_number() OVER (
                    ORDER BY dot DESC, vec_id) AS rk FROM exd)
                WHERE rk <= 10),
        rawe AS (SELECT asn.vec_id,
                        SUM(CAST(asn.d2 AS DECIMAL(38,18))) AS e2
                 FROM codes JOIN asn
                   ON asn.vec_id = codes.vec_id AND asn.sub = codes.sub
                  AND asn.cluster = codes.cluster
                 GROUP BY 1),
        rawm AS (SELECT CAST(floor(CAST(SUM(e2) AS DOUBLE) /
                   CAST(count(*) AS DOUBLE) * 1000000.0) AS BIGINT)
                   AS mse_micro FROM rawe),
        rese AS (SELECT asnr.vec_id,
                        SUM(CAST(asnr.d2 AS DECIMAL(38,18))) AS e2
                 FROM codesr JOIN asnr
                   ON asnr.vec_id = codesr.vec_id AND asnr.sub = codesr.sub
                  AND asnr.cluster = codesr.cluster
                 GROUP BY 1),
        resm AS (SELECT CAST(floor(CAST(SUM(e2) AS DOUBLE) /
                   CAST(count(*) AS DOUBLE) * 1000000.0) AS BIGINT)
                   AS mse_micro FROM rese)
        SELECT * FROM (
          SELECT 'ivf_pq_raw' AS method,
                 (SELECT count(*) FROM ext JOIN adct USING (vec_id)) AS hits,
                 (SELECT count(*) FROM ext) AS total,
                 round(CAST((SELECT count(*) FROM ext
                             JOIN adct USING (vec_id)) AS DOUBLE) /
                       CAST((SELECT count(*) FROM ext) AS DOUBLE), 9)
                   AS recall,
                 (SELECT mse_micro FROM rawm) AS mse_micro
          UNION ALL
          SELECT 'ivf_pq_residual' AS method,
                 (SELECT count(*) FROM ext JOIN rtop USING (vec_id)) AS hits,
                 (SELECT count(*) FROM ext) AS total,
                 round(CAST((SELECT count(*) FROM ext
                             JOIN rtop USING (vec_id)) AS DOUBLE) /
                       CAST((SELECT count(*) FROM ext) AS DOUBLE), 9)
                   AS recall,
                 (SELECT mse_micro FROM resm) AS mse_micro)
        ORDER BY method""")),

    // ---- filtered vector search: pre-filter vs post-filter --------------
    // Production vector search is almost never unconstrained — "nearest
    // neighbors WHERE lang = 'en' AND license_ok" is the common shape
    // (Qdrant/Vespa/Milvus all ship filtered search as a first-class
    // mode). Two strategies, measured head-to-head against the exact
    // filtered top-10: PRE-filter pushes the predicate into the
    // partition-pruned probe scan (index built with metaCols, so the
    // parquet reader prunes on the metadata column BEFORE scoring and
    // the k survivors all satisfy it); POST-filter runs the plain
    // unfiltered top-k and drops non-matching survivors after the cut —
    // under a selective predicate it under-fills k and recall collapses.
    // The filter (label = 3, never the query vector's own label at any
    // SF) keeps the scenario non-degenerate: matching vectors live
    // mostly OUTSIDE the query's nearest clusters, so the gap the gate
    // prints is structural, not a fixture accident. Portability is the
    // q54/q58 contract: decimal-grid centroids, rounded-decimal final
    // rankings, vec_id tiebreaks, and the 5x (k=50) margin between the
    // engine's double-ranked candidate cut and the portable top-10.
    QueryDef("q183_filtered_ann",
      (s, dir) => {
        val e = embNarrow(s, dir)
        val cents = labelCentsDecimal(e)
        val qvec = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val path = sys.props("java.io.tmpdir") +
          s"/graft_ivf_q183_${java.lang.Integer.toHexString(dir.hashCode)}/index"
        Similarity.ivfWrite(e, "vec_id", "embedding", cents, path,
          metaCols = Seq("label"))
        val exact = decimalRerankTop10(e,
            e.filter(col("label") === 3).select("vec_id"))
          .select("vec_id").localCheckpoint(true) // read by both recall rows
        def recallRow(method: String, top: DataFrame): DataFrame =
          exact.join(top.select(col("vec_id"), lit(1).as("hit")),
              Seq("vec_id"), "left")
            .agg(coalesce(sum(col("hit")), lit(0)).cast(LongType).as("hits"),
              count(lit(1)).as("total"))
            .select(lit(method).as("method"), col("hits"), col("total"),
              round(col("hits").cast(DoubleType) /
                col("total").cast(DoubleType), 9).as("recall"))
        val pre = Similarity.ivfSearchFiltered(s, path, "vec_id",
          "embedding", cents, qvec, k = 50, nprobe = 2,
          predicate = col("label") === 3)
        val post = Similarity.ivfSearch(s, path, "vec_id", "embedding",
          cents, qvec, k = 50, nprobe = 2)
        val postTop = decimalRerankTop10(e, post.select("vec_id"))
          .join(e.select(col("vec_id"), col("label")), "vec_id")
          .filter(col("label") === 3)
        recallRow("prefilter", decimalRerankTop10(e, pre.select("vec_id")))
          .union(recallRow("postfilter", postTop))
          .orderBy("method")
      },
      Some(s"""
        WITH $ivfAssignCte,
        q AS (SELECT pos, v FROM e WHERE vec_id = 0),
        qn AS (SELECT CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn FROM q),
        pc AS (SELECT cd.label,
                      CAST(SUM(CAST(cd.c*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM centd cd JOIN q ON q.pos = cd.pos GROUP BY 1),
        probes AS (SELECT pc.label FROM pc JOIN cn USING (label), qn
                   ORDER BY pc.dot/(sqrt(cn.nn)*sqrt(qn.nn)) DESC, pc.label
                   LIMIT 2),
        dall AS (SELECT e.vec_id,
                        CAST(SUM(CAST(e.v*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
                 FROM e JOIN q ON q.pos = e.pos GROUP BY 1),
        sc AS (SELECT vec_id, round(dot/(sqrt(vn.nn)*sqrt(qn.nn)), 9) AS cosine
               FROM dall JOIN vn USING (vec_id), qn
               WHERE vn.nn > 0 AND qn.nn > 0),
        lb AS (SELECT vec_id, label AS lbl FROM embeddings),
        ex AS (SELECT vec_id FROM (
                 SELECT sc.vec_id,
                        row_number() OVER (ORDER BY sc.cosine DESC, sc.vec_id) AS rk
                 FROM sc JOIN lb USING (vec_id) WHERE lb.lbl = 3)
               WHERE rk <= 10),
        cand AS (SELECT a.vec_id FROM assign a JOIN probes p ON p.label = a.label),
        pre AS (SELECT vec_id FROM (
                  SELECT sc.vec_id,
                         row_number() OVER (ORDER BY sc.cosine DESC, sc.vec_id) AS rk
                  FROM sc JOIN cand USING (vec_id) JOIN lb USING (vec_id)
                  WHERE lb.lbl = 3)
                WHERE rk <= 10),
        post AS (SELECT vec_id FROM (
                   SELECT sc.vec_id, lb.lbl,
                          row_number() OVER (ORDER BY sc.cosine DESC, sc.vec_id) AS rk
                   FROM sc JOIN cand USING (vec_id) JOIN lb USING (vec_id))
                 WHERE rk <= 10 AND lbl = 3),
        raw AS (
          SELECT 'postfilter' AS method,
                 CAST((SELECT count(*) FROM post JOIN ex USING (vec_id)) AS BIGINT) AS hits,
                 CAST((SELECT count(*) FROM ex) AS BIGINT) AS total
          UNION ALL
          SELECT 'prefilter',
                 CAST((SELECT count(*) FROM pre JOIN ex USING (vec_id)) AS BIGINT),
                 CAST((SELECT count(*) FROM ex) AS BIGINT))
        SELECT method, hits, total,
               round(CAST(hits AS DOUBLE)/CAST(total AS DOUBLE), 9) AS recall
        FROM raw ORDER BY method""")),

    // ---- seeded fast orthogonal rotation (SRHT / OPQ-lite) --------------
    // y = H·D·x/√d: the FJLT randomized-Hadamard rotation — FAISS's
    // training-free OPQ preprocessing. The engine runs the O(d log d)
    // BUTTERFLY (log₂d chained per-row transforms, zero shuffle); the
    // oracle restates the IDENTICAL IEEE-754 operation sequence in
    // DuckDB list ops, so doubles match bit-for-bit with no decimal
    // accumulation. Isometry, the dense-H equivalence, and the
    // inverse round-trip are spec-pinned ([[SimilaritySpec]]).
    // Operator: [[graft.operators.Similarity.srhtRotate]].
    QueryDef("q197_srht_rotation",
      (s, dir) => {
        graft.operators.Similarity.srhtRotate(
            emb(s, dir), "vec_id", "embedding", "srht7")
          .select(col("vec_id"),
            posexplode(col("rotated")).as(Seq("pos", "rot"))) // (driver comparator sorts rows before hashing - no cosmetic sort)
      },
      Some(s"""
        WITH $srhtCte
        SELECT vec_id, u.pos AS pos, u.rot AS rot FROM (
          SELECT vec_id, unnest(list_transform(range(0, 64), i ->
            struct_pack(pos := CAST(i AS INT),
              rot := round(l[CAST(i+1 AS INT)] / sqrt(64.0), 9)))) AS u
          FROM h6)
        ORDER BY vec_id, pos""")),

    // ---- rotated PQ vs raw PQ, head-to-head (q198) -----------------------
    // The payoff gate for q197's rotation — OPQ's adoption argument as
    // a verified number: the SAME m=16/w=4 PQ pipeline (sign-bucket
    // seeding, decimal codebook means, argmin assignment, ADC serving)
    // trained once on the raw vectors and once on their SRHT-rotated
    // images, scored against ONE yardstick (the decimal-exact raw-space
    // top-10 — rotation is an isometry, so ⟨Rq,Rv⟩ estimates the same
    // inner product and the rotated ADC competes on the same leaderboard).
    // Output per variant: recall@10 AND whole-corpus reconstruction MSE
    // in floored micro units (isometry again: rotated-space MSE IS
    // original-space MSE, which is exactly why the Hadamard transform's
    // energy-equalization shows up as a smaller number here — the
    // q171 fidelity-metric convention). Buckets for the rotated variant
    // derive from the rotated values themselves (lpos 0 vs 2, 1 vs 3 —
    // pqParts' rule restated over the exploded frame), so both variants
    // are seeded by the same data-independent family.
    // Operator: [[graft.operators.Similarity.srhtRotate]] + the shared
    // [[pqPartsFromEx]] stage.
    QueryDef("q198_rotated_pq",
      (s, dir) => {
        import graft.functions.ColumnLib.fork
        val e = emb(s, dir)
        // The raw and rotated trainings are INDEPENDENT chains of
        // blocking materializations that each underfill the cluster —
        // overlap them, and overlap the exact yardstick with whatever
        // of the rotated chain is still running (guide §2.6; the
        // q171/q205 posture).
        val rawF = fork(s)(pqPartsFromVec(e, "embedding"))
        val rotF = fork(s)(pqPartsFromVec(
          Similarity.srhtRotate(e, "vec_id", "embedding", "srht7"), "rotated"))
        val raw = rawF()
        val exF = fork(s)(raw.ex.join(broadcast(raw.q), "pos")
          .groupBy("vec_id")
          .agg(sum((col("v") * col("qv")).cast(D)).as("sd"))
          .select(col("vec_id"), round(col("sd").cast(DoubleType), 9).as("dot"))
          .orderBy(col("dot").desc, col("vec_id"))
          .limit(10).select("vec_id")
          .localCheckpoint(true)) // read by both recall rows
        val rot = rotF()
        val exactTop = exF()
        def gateRow(method: String, p: PqExParts): DataFrame = {
          val top = pqAdcScoresFromEx(p)
            .orderBy(col("score").desc, col("vec_id"))
            .limit(10).select("vec_id")
          val mse = p.codes
            .groupBy("vec_id").agg(sum(col("d2r").cast(D)).as("e2"))
            .agg(sum(col("e2")).as("se2"), count(lit(1)).as("nv"))
            .select(floor(col("se2").cast(DoubleType) /
                col("nv").cast(DoubleType) * lit(1000000.0))
              .cast(LongType).as("mse_micro"))
          exactTop.join(top.withColumn("hit", lit(1)), Seq("vec_id"), "left")
            .agg(coalesce(sum(col("hit")), lit(0)).cast(LongType).as("hits"),
              count(lit(1)).as("total"))
            .select(lit(method).as("method"), col("hits"), col("total"),
              round(col("hits").cast(DoubleType) /
                col("total").cast(DoubleType), 9).as("recall"))
            .crossJoin(mse)
        }
        gateRow("pq_raw", raw).unionByName(gateRow("pq_srht", rot))
          .orderBy("method")
      },
      Some(s"""
        WITH $srhtCte,
        rote AS (SELECT vec_id, u.pos AS pos, u.v AS v FROM (
                   SELECT vec_id, unnest(list_transform(range(0, 64), i ->
                     struct_pack(pos := CAST(i AS INT),
                       v := round(l[CAST(i+1 AS INT)] / sqrt(64.0), 9)))) AS u
                   FROM h6)),
        ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                      CAST(unnest(embedding) AS DOUBLE) AS v
               FROM embeddings),
        ${pqChainSql("ex", "raw")},
        ${pqChainSql("rote", "rot")},
        exd AS (SELECT ex.vec_id,
                       round(CAST(SUM(CAST(ex.v * q.qv AS DECIMAL(38,18)))
                             AS DOUBLE), 9) AS dot
                FROM ex JOIN rawq q ON q.pos = ex.pos GROUP BY 1),
        ext AS (SELECT vec_id FROM (
                  SELECT vec_id, row_number() OVER (
                    ORDER BY dot DESC, vec_id) AS rk FROM exd)
                WHERE rk <= 10)
        SELECT * FROM (
          SELECT 'pq_raw' AS method,
                 (SELECT count(*) FROM ext JOIN rawtop USING (vec_id)) AS hits,
                 (SELECT count(*) FROM ext) AS total,
                 round(CAST((SELECT count(*) FROM ext
                             JOIN rawtop USING (vec_id)) AS DOUBLE) /
                       CAST((SELECT count(*) FROM ext) AS DOUBLE), 9)
                   AS recall,
                 (SELECT mse_micro FROM rawmse) AS mse_micro
          UNION ALL
          SELECT 'pq_srht',
                 (SELECT count(*) FROM ext JOIN rottop USING (vec_id)),
                 (SELECT count(*) FROM ext),
                 round(CAST((SELECT count(*) FROM ext
                             JOIN rottop USING (vec_id)) AS DOUBLE) /
                       CAST((SELECT count(*) FROM ext) AS DOUBLE), 9),
                 (SELECT mse_micro FROM rotmse))
        ORDER BY method""")),

    // ---- vector-index erasure: tombstone delete ≡ rebuild-without (q202) -
    // q201's right-to-be-forgotten contract for the DENSE index family
    // ([[graft.operators.Similarity.ivfDelete]]): every 5th vector
    // (mod-4 phase, so the probe query itself survives) is tombstoned
    // — postings untouched, one `del:` ledger row commits — and the
    // q54-shape probe search must rank EXACTLY as the oracle's
    // restatement over the retained corpus. The quantizer stays FROZEN
    // (erasure never retrains): centroids, norms and cluster
    // assignment are full-corpus on both sides, only the candidate
    // set shrinks. Portability is q54's contract (decimal-grid
    // centroids, k=50 engine cut, rounded-decimal top-10).
    QueryDef("q202_vector_erasure",
      (s, dir) => {
        val e = embNarrow(s, dir)
        val cents = labelCentsDecimal(e)
        val qvec = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val path = sys.props("java.io.tmpdir") +
          s"/graft_ivf_q202_${java.lang.Integer.toHexString(dir.hashCode)}/index"
        Similarity.ivfWrite(e, "vec_id", "embedding", cents, path)
        Similarity.ivfDelete(s, path,
          e.filter(col("vec_id") % 5 === 4).select("vec_id"), "gdpr1")
        val hits = Similarity.ivfSearch(s, path, "vec_id", "embedding",
          cents, qvec, k = 50, nprobe = 2)
        decimalRerankTop10(e, hits.select("vec_id"))
      },
      Some(s"""
        WITH $ivfAssignCte,
        q AS (SELECT pos, v FROM e WHERE vec_id = 0),
        qn AS (SELECT CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn FROM q),
        pc AS (SELECT cd.label,
                      CAST(SUM(CAST(cd.c*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM centd cd JOIN q ON q.pos = cd.pos GROUP BY 1),
        probes AS (SELECT pc.label FROM pc JOIN cn USING (label), qn
                   ORDER BY pc.dot/(sqrt(cn.nn)*sqrt(qn.nn)) DESC, pc.label
                   LIMIT 2),
        d AS (SELECT e.vec_id,
                     CAST(SUM(CAST(e.v*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
              FROM e JOIN q ON q.pos = e.pos
              WHERE e.vec_id IN (SELECT a.vec_id FROM assign a
                                 JOIN probes p ON p.label = a.label)
                AND e.vec_id % 5 <> 4
              GROUP BY 1)
        SELECT vec_id, round(dot/(sqrt(vn.nn)*sqrt(qn.nn)), 9) AS cosine
        FROM d JOIN vn USING (vec_id), qn
        WHERE vn.nn > 0 AND qn.nn > 0
        ORDER BY round(dot/(sqrt(vn.nn)*sqrt(qn.nn)), 9) DESC, vec_id
        LIMIT 10""")),

    // ---- hybrid retrieval: BM25 + dense, reciprocal-rank fusion (q206) ---
    // The serving shape of a modern retrieval stack: a sparse list
    // (q168's index-served BM25 top-20) and a dense list (q54's
    // probe-searched decimal top-10) fused by RRF (Cormack et al.,
    // SIGIR'09) — rank-only fusion, so no score calibration between
    // the two spaces is needed. Portability: both input rankings are
    // already gated total orders; each reciprocal is one IEEE divide
    // of identical integers and the fusion is a fixed two-term
    // expression over one full-outer join (never a shuffle-order sum).
    // Operator: [[graft.operators.Retrieval.rrfFuse]].
    QueryDef("q206_hybrid_rrf",
      (s, dir) => {
        import graft.operators.{Retrieval, TextIndex}
        import graft.functions.ColumnLib.fork
        val terms = Seq("spark", "merge")
        val tpath = sys.props("java.io.tmpdir") +
          s"/graft_tidx_q206_${java.lang.Integer.toHexString(dir.hashCode)}/index"
        val e = emb(s, dir)
        val cents = labelCentsDecimal(e)
        val qvec = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val vpath = sys.props("java.io.tmpdir") +
          s"/graft_ivf_q206_${java.lang.Integer.toHexString(dir.hashCode)}/index"
        // The two index builds are independent (own paths) and each
        // underfills the cluster — submit their jobs concurrently
        // (routed through the gated fork so the A/B covers it).
        val bT = fork(s)(TextIndex.write(graft.Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("text")), "doc_id", "text", tpath))
        val bV = fork(s)(Similarity.ivfWrite(e, "vec_id", "embedding", cents,
          vpath))
        graft.functions.ColumnLib.awaitAll(bT, bV)
        val textTop = TextIndex.searchBM25(s, tpath, terms, k = 20)
        val vecTop = decimalRerankTop10(e,
          Similarity.ivfSearch(s, vpath, "vec_id", "embedding", cents,
            qvec, k = 50, nprobe = 2).select("vec_id"))
        Retrieval.rrfFuse(Seq(
            Retrieval.rankOf(textTop, "doc",
              Seq(col("bm25").desc, col("doc").asc)),
            Retrieval.rankOf(vecTop, "vec_id",
              Seq(col("cosine").desc, col("vec_id").asc))),
          k0 = 60, topK = 15)
      },
      Some(s"""
        WITH $ivfAssignCte,
        q AS (SELECT pos, v FROM e WHERE vec_id = 0),
        qn AS (SELECT CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn FROM q),
        pc AS (SELECT cd.label,
                      CAST(SUM(CAST(cd.c*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM centd cd JOIN q ON q.pos = cd.pos GROUP BY 1),
        probes AS (SELECT pc.label FROM pc JOIN cn USING (label), qn
                   ORDER BY pc.dot/(sqrt(cn.nn)*sqrt(qn.nn)) DESC, pc.label
                   LIMIT 2),
        dd AS (SELECT e.vec_id,
                      CAST(SUM(CAST(e.v*q.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM e JOIN q ON q.pos = e.pos
               WHERE e.vec_id IN (SELECT a.vec_id FROM assign a
                                  JOIN probes p ON p.label = a.label)
               GROUP BY 1),
        vtop AS (SELECT vec_id,
                        round(dot/(sqrt(vn.nn)*sqrt(qn.nn)), 9) AS cosine
                 FROM dd JOIN vn USING (vec_id), qn
                 WHERE vn.nn > 0 AND qn.nn > 0
                 ORDER BY round(dot/(sqrt(vn.nn)*sqrt(qn.nn)), 9) DESC, vec_id
                 LIMIT 10),
        tbase AS (SELECT doc_id, len(string_split(text,' ')) AS dl,
                         len(list_filter(string_split(text,' '),
                           x -> x = 'spark')) AS tf_spark,
                         len(list_filter(string_split(text,' '),
                           x -> x = 'merge')) AS tf_merge
                  FROM documents),
        tc AS (SELECT count(*) AS n_docs, SUM(dl) AS sum_dl,
                      SUM(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END)
                        AS df_spark,
                      SUM(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END)
                        AS df_merge
               FROM tbase),
        ttop AS (SELECT doc_id,
               round(CAST(
                 CAST(round(CASE WHEN tf_spark > 0 THEN
                   round(ln((CAST(n_docs AS DOUBLE) - df_spark + 0.5)
                            / (df_spark + 0.5) + 1.0), 9)
                     * (CAST(tf_spark AS DOUBLE) * 2.2)
                     / (CAST(tf_spark AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                        CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / n_docs)))
                   ELSE 0 END, 9) AS DECIMAL(38,18))
                 + CAST(round(CASE WHEN tf_merge > 0 THEN
                   round(ln((CAST(n_docs AS DOUBLE) - df_merge + 0.5)
                            / (df_merge + 0.5) + 1.0), 9)
                     * (CAST(tf_merge AS DOUBLE) * 2.2)
                     / (CAST(tf_merge AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                        CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / n_docs)))
                   ELSE 0 END, 9) AS DECIMAL(38,18))
               AS DOUBLE), 6) AS bm25
          FROM tbase, tc
          WHERE tf_spark > 0 OR tf_merge > 0
          ORDER BY bm25 DESC, doc_id LIMIT 20),
        tr AS (SELECT doc_id AS id, row_number() OVER (
                 ORDER BY bm25 DESC, doc_id) AS r FROM ttop),
        vr AS (SELECT vec_id AS id, row_number() OVER (
                 ORDER BY cosine DESC, vec_id) AS r FROM vtop),
        f AS (SELECT id,
                     round(coalesce(1.0/(60 + tr.r), 0) +
                           coalesce(1.0/(60 + vr.r), 0), 9) AS rrf
              FROM tr FULL JOIN vr USING (id))
        SELECT id, rrf FROM f ORDER BY rrf DESC, id LIMIT 15""")),

    // ---- MMR diversification of a result list (q207) ---------------------
    // Serving-side dedup (Carbonell & Goldstein, SIGIR'98): the exact
    // top-10 is greedily re-ranked so each pick trades relevance
    // against similarity to what is already picked — a near-dup
    // cluster contributes ONE result instead of k copies. λ = 0.7,
    // 5 picks; the redundancy penalty uses (1.0 − 0.7) SPELLED AS THE
    // SUBTRACTION in both engines (the literal 0.3 is a different
    // double). Candidates and pairwise sims are the decimal-grid
    // cosines; each greedy step's argmax compares the RAW doubles (all
    // inputs are shared-grid values, so the scores are bit-identical
    // across engines — re-rounding them would reintroduce the engines'
    // divergent round() edge behavior) with an id tiebreak, and the
    // emitted score is floored micro fixed-point. Operator: [[graft.operators.Retrieval.mmrDiversify]]
    // (bounded serving lists only — the guard refuses corpus-sized
    // input).
    QueryDef("q207_mmr_diversify",
      (s, dir) => {
        val e = emb(s, dir)
        val cands = exactCosine(e)
          .orderBy(col("cosine").desc, col("vec_id"))
          .limit(10)
          .select(col("vec_id").as("id"), col("cosine").as("rel"))
          .localCheckpoint(true) // rel reads + the candidate-id semi-join
        val ex = e.join(cands.select(col("id").as("vec_id")),
            Seq("vec_id"), "left_semi")
          .select(col("vec_id"),
            posexplode(col("embedding")).as(Seq("pos", "vf")))
          .select(col("vec_id"), col("pos"),
            col("vf").cast(DoubleType).as("v"))
          .localCheckpoint(true) // norms AND the pairwise self-join
        val nrm = ex.groupBy("vec_id")
          .agg(sum((col("v") * col("v")).cast(D)).as("nnd"))
          .select(col("vec_id"), col("nnd").cast(DoubleType).as("nn"))
        val sims = ex.as("x").join(ex.as("y"),
            col("x.pos") === col("y.pos") &&
              col("x.vec_id") =!= col("y.vec_id"))
          .groupBy(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
          .agg(sum((col("x.v") * col("y.v")).cast(D)).as("dotd"))
          .join(nrm.select(col("vec_id").as("a"), col("nn").as("na")), "a")
          .join(nrm.select(col("vec_id").as("b"), col("nn").as("nb")), "b")
          .select(col("a"), col("b"),
            round(col("dotd").cast(DoubleType) /
              (sqrt(col("na")) * sqrt(col("nb"))), 9).as("sim"))
        graft.operators.Retrieval.mmrDiversify(cands, sims,
            lambda = 0.7, k = 5)
          .select(col("pick"), col("id"),
            floor(col("mmr") * lit(1000000.0)).cast(LongType)
              .as("mmr_micro"))
      },
      Some {
        def step(i: Int): String = s"""
        sel${i - 1} AS (${(1 until i).map(j => s"SELECT id FROM p$j")
            .mkString(" UNION ALL ")}),
        p$i AS (SELECT c.id,
                  0.7 * c.rel - (1.0 - 0.7) * coalesce(
                    (SELECT max(ps.sim) FROM ps
                     WHERE ps.a = c.id
                       AND ps.b IN (SELECT id FROM sel${i - 1})), 0)
                    AS mmr
                FROM cands c
                WHERE c.id NOT IN (SELECT id FROM sel${i - 1})
                ORDER BY 2 DESC, 1 LIMIT 1)"""
        s"""
        WITH $cosineCte,
        cands AS (SELECT vec_id AS id, cosine AS rel FROM cos
                  ORDER BY cosine DESC, vec_id LIMIT 10),
        pex AS (SELECT e.vec_id, e.pos, e.v FROM e
                WHERE e.vec_id IN (SELECT id FROM cands)),
        pn AS (SELECT vec_id,
                      CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn
               FROM pex GROUP BY 1),
        pd AS (SELECT x.vec_id AS a, y.vec_id AS b,
                      CAST(SUM(CAST(x.v*y.v AS DECIMAL(38,18))) AS DOUBLE)
                        AS dot
               FROM pex x JOIN pex y
                 ON x.pos = y.pos AND x.vec_id <> y.vec_id
               GROUP BY 1, 2),
        ps AS (SELECT a, b, round(dot/(sqrt(na.nn)*sqrt(nb.nn)), 9) AS sim
               FROM pd JOIN pn na ON na.vec_id = a
                       JOIN pn nb ON nb.vec_id = b),
        p1 AS (SELECT id, 0.7 * rel AS mmr FROM cands
               ORDER BY 2 DESC, 1 LIMIT 1),
        ${(2 to 5).map(step).mkString(",")}
        SELECT pick, id,
               CAST(floor(mmr * 1000000.0) AS BIGINT) AS mmr_micro
        FROM (
          SELECT 1 AS pick, id, mmr FROM p1
          UNION ALL SELECT 2, id, mmr FROM p2
          UNION ALL SELECT 3, id, mmr FROM p3
          UNION ALL SELECT 4, id, mmr FROM p4
          UNION ALL SELECT 5, id, mmr FROM p5)
        ORDER BY pick"""
      }),

    // ---- bitext margin mining (Artetxe & Schwenk 2019) ------------------
    // The LASER/CCMatrix parallel-pair miner: a pair's cosine is
    // normalized by the mean of both endpoints' k-NN cosines, so "hub"
    // vectors that sit close to everything stop winning. Candidates
    // meet on sized sign-LSH bucket equality (cross-frame equi-join,
    // never |S|x|T|); the k-NN means use the SAME candidate set — the
    // approximate-kNN margin mining deployments run. Corpora are the
    // even/odd vec_id halves (deterministic synthetic bilingual split).
    // Output: each source's best target by margin with the mutual-best
    // flag — the high-precision subset a pair harvest keeps. Production
    // float path: [[Similarity.bitextMine]] (spec-pinned in
    // SimilaritySpec); this gate takes the portable decimal-exact path.
    QueryDef("q213_bitext_margin",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        def dot(a: Column, b: Column) = call_function("dot_exact", a, b)
        val b = Similarity.signLshBuckets(
            emb(s, dir).select(col("vec_id"), col("embedding")), "embedding",
            sizedPairs(s, dir))
          .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
          .filter(col("nrm") > 0)
          .localCheckpoint(true) // both corpus halves read it
        val src = b.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("s_id"), col("embedding").as("svec"),
            col("nrm").as("snrm"), col("bucket"))
        val tgt = b.filter(col("vec_id") % 2 =!= 0)
          .select(col("vec_id").as("t_id"), col("embedding").as("tvec"),
            col("nrm").as("tnrm"), col("bucket"))
        // Candidate cosines are consumed by three branches (forward
        // kNN mean, backward kNN mean, the margin join) — checkpoint
        // the bucket join + decimal dots once.
        val cand = src.join(tgt, "bucket")
          .select(col("s_id"), col("t_id"),
            round(dot(col("svec"), col("tvec")) /
              (col("snrm") * col("tnrm")), 9).as("cosv"))
          .localCheckpoint(true)
        val rk = cand
          .withColumn("rf", row_number().over(
            Window.partitionBy("s_id").orderBy(col("cosv").desc, col("t_id"))))
          .withColumn("rb", row_number().over(
            Window.partitionBy("t_id").orderBy(col("cosv").desc, col("s_id"))))
          .localCheckpoint(true) // forward AND backward means read it
        // kNN means on the decimal grid: each cosine is a 9-dp value,
        // so the decimal(18,9) sum is exact and order-insensitive in
        // both engines; the mean is one double division of identical
        // inputs.
        val fa = rk.filter(col("rf") <= 4).groupBy("s_id")
          .agg((sum(col("cosv").cast(DecimalType(18, 9))).cast(DoubleType) /
            count(lit(1))).as("favg"))
        val ba = rk.filter(col("rb") <= 4).groupBy("t_id")
          .agg((sum(col("cosv").cast(DecimalType(18, 9))).cast(DoubleType) /
            count(lit(1))).as("bavg"))
        // The margin is DERIVED from grid inputs — identical doubles in
        // both engines, so ranking on the raw value is portable, but
        // round(x, 9) on it is NOT (near-half edges diverge between
        // engines; verify-skill gotcha). Rank raw, emit floored
        // micro fixed-point.
        val m = cand.join(fa, "s_id").join(ba, "t_id")
          // Ratio margin presumes a positive neighborhood mean; a
          // non-positive denominator is not translation-like and is
          // excluded EXPLICITLY on both sides (IEEE /0 portability).
          .filter(col("favg") + col("bavg") > 0)
          .withColumn("margin",
            col("cosv") * 2 / (col("favg") + col("bavg")))
        m.withColumn("bf", row_number().over(
            Window.partitionBy("s_id").orderBy(col("margin").desc, col("t_id"))))
          .withColumn("bb", row_number().over(
            Window.partitionBy("t_id").orderBy(col("margin").desc, col("s_id"))))
          .withColumn("mutual",
            (col("bf") === 1 && col("bb") === 1).cast("int"))
          .filter(col("bf") === 1)
          .select(col("s_id"), col("t_id"), col("cosv").as("cosine"),
            floor(col("margin") * lit(1000000.0)).cast(LongType)
              .as("margin_micro"),
            col("mutual"))
          .orderBy("s_id")
      },
      Some(s"""
        WITH b AS (SELECT vec_id, ${bucketSql("embeddings")} AS bucket
                   FROM embeddings),
        e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings),
        n AS (SELECT vec_id,
                     CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn
              FROM e GROUP BY 1),
        cand AS (SELECT sb.vec_id AS s_id, tb.vec_id AS t_id
                 FROM b sb JOIN b tb
                   ON tb.bucket = sb.bucket AND tb.vec_id % 2 = 1
                 WHERE sb.vec_id % 2 = 0),
        d AS (SELECT cand.s_id, cand.t_id,
                     CAST(SUM(CAST(e1.v*e2.v AS DECIMAL(38,18))) AS DOUBLE)
                       AS dot
              FROM cand JOIN e e1 ON e1.vec_id = cand.s_id
                        JOIN e e2 ON e2.vec_id = cand.t_id
                                 AND e2.pos = e1.pos
              GROUP BY 1, 2),
        cosv AS (SELECT s_id, t_id,
                        round(dot/(sqrt(n1.nn)*sqrt(n2.nn)), 9) AS cosv
                 FROM d JOIN n n1 ON n1.vec_id = s_id
                        JOIN n n2 ON n2.vec_id = t_id
                 WHERE n1.nn > 0 AND n2.nn > 0),
        rk AS (SELECT s_id, t_id, cosv,
                      row_number() OVER (PARTITION BY s_id
                        ORDER BY cosv DESC, t_id) AS rf,
                      row_number() OVER (PARTITION BY t_id
                        ORDER BY cosv DESC, s_id) AS rb
               FROM cosv),
        fa AS (SELECT s_id,
                      CAST(SUM(CAST(cosv AS DECIMAL(18,9))) AS DOUBLE)
                        / COUNT(*) AS favg
               FROM rk WHERE rf <= 4 GROUP BY 1),
        ba AS (SELECT t_id,
                      CAST(SUM(CAST(cosv AS DECIMAL(18,9))) AS DOUBLE)
                        / COUNT(*) AS bavg
               FROM rk WHERE rb <= 4 GROUP BY 1),
        m AS (SELECT c.s_id, c.t_id, c.cosv,
                     c.cosv * 2 / (fa.favg + ba.bavg) AS margin
              FROM cosv c JOIN fa USING (s_id) JOIN ba USING (t_id)
              WHERE fa.favg + ba.bavg > 0),
        mb AS (SELECT s_id, t_id, cosv, margin,
                      row_number() OVER (PARTITION BY s_id
                        ORDER BY margin DESC, t_id) AS bf,
                      row_number() OVER (PARTITION BY t_id
                        ORDER BY margin DESC, s_id) AS bb
               FROM m)
        SELECT s_id, t_id, cosv AS cosine,
               CAST(floor(margin * 1000000.0) AS BIGINT) AS margin_micro,
               CAST(CASE WHEN bf = 1 AND bb = 1 THEN 1 ELSE 0 END AS INT)
                 AS mutual
        FROM mb WHERE bf = 1 ORDER BY s_id""")),

    // ---- in-place cluster split: conservation through maintenance -------
    // ivfSplitCluster rewrites ONE hot cluster as two (O(cluster) index
    // maintenance between rebuilds — append/delete/compact/split is the
    // full incremental story). The gate pins the two facts an oracle
    // CAN see without restating float Lloyd means: (1) the served set
    // is conserved — probing every cluster after the split reproduces
    // the exact decimal top-10 (a lost, duplicated, or double-visible
    // row in the head breaks the hash); (2) the physical layout is
    // exactly "source retired, both children populated" — n_clusters
    // read from the index must equal distinct labels + 1. Placement
    // quality and the crash/replay protocol are spec-pinned
    // (SimilaritySpec "ivfSplitCluster").
    QueryDef("q214_ivf_split",
      (s, dir) => {
        val e = embNarrow(s, dir)
        val cents = labelCentsDecimal(e)
        val qvec = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val path = sys.props("java.io.tmpdir") +
          s"/graft_ivf_q214_${java.lang.Integer.toHexString(dir.hashCode)}/index"
        Similarity.ivfWrite(e, "vec_id", "embedding", cents, path)
        val newCents = Similarity.ivfSplitCluster(s, path, "vec_id",
          "embedding", cents, 0, 100, 101, steps = 2)
          .localCheckpoint(true) // probe ranking + nprobe sizing read it
        val nClusters = s.read.parquet(path)
          .agg(count_distinct(col("cluster"))).head().getLong(0)
        val hits = Similarity.ivfSearch(s, path, "vec_id", "embedding",
          newCents, qvec, k = 50, nprobe = newCents.count().toInt)
        decimalRerankTop10(e, hits.select("vec_id"))
          .withColumn("n_clusters", lit(nClusters))
      },
      Some(s"""
        WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                          generate_subscripts(embedding, 1) AS pos
                   FROM embeddings),
        q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 0),
        qn AS (SELECT CAST(SUM(CAST(qv*qv AS DECIMAL(38,18))) AS DOUBLE) AS nn
               FROM q),
        n AS (SELECT vec_id,
                     CAST(SUM(CAST(v*v AS DECIMAL(38,18))) AS DOUBLE) AS nn
              FROM e GROUP BY 1),
        d AS (SELECT e.vec_id,
                     CAST(SUM(CAST(e.v*q.qv AS DECIMAL(38,18))) AS DOUBLE)
                       AS dot
              FROM e JOIN q USING (pos) GROUP BY 1)
        SELECT vec_id, round(dot/(sqrt(n.nn)*sqrt(qn.nn)), 9) AS cosine,
               (SELECT COUNT(DISTINCT label) + 1 FROM embeddings)
                 AS n_clusters
        FROM d JOIN n USING (vec_id), qn
        WHERE n.nn > 0 AND qn.nn > 0
        ORDER BY round(dot/(sqrt(n.nn)*sqrt(qn.nn)), 9) DESC, vec_id
        LIMIT 10""")))
}
