package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication battery over `documents`: exact, MinHash signature,
  * LSH candidate pairs, SimHash, n-gram Jaccard. Oracles restate the
  * identical md5-seeded hash constructions in DuckDB, so signatures and
  * pair sets hash-match exactly.
  */
object DedupOps {

  /** Sign-LSH width for the embedding near-dup family, sized from the
    * corpus count (target bucket 2 — the pair stage is quadratic in
    * bucket population, so dedup wants the finest buckets the corpus
    * supports). Sizes to 8 bits at the sf0.01 gate — exactly the old
    * fixed `finePairs`, so oracle hashes are unchanged there — and
    * grows with the corpus (10 bits at sf0.1). The SQL twin
    * [[graft.operators.Similarity.scaledBucketSql]] derives the same
    * width from `count(*)`.
    */
  private def sizedDedupPairs(s: SparkSession, dir: String): Seq[(Int, Int)] =
    graft.operators.Similarity.scaledSignPairs(
      Tables.table(s, dir, "embeddings").count(), dim = 64,
      targetBucketSize = 2)

  private def dedupBucketSql(vecCol: String): String =
    graft.operators.Similarity.scaledBucketSql("embeddings", vecCol,
      targetBucketSize = 2)

  /** DuckDB CTE chain ending in `cand(id1, id2)` — the declarative
    * restatement of `Dedup.lshCandidatePairs(k=4, n=3, bandWidth=2,
    * maxBucket=1000)` over `doc_id < 300`, shared by the q111 and
    * q121 oracles so the candidate sets cannot drift.
    */
  private lazy val lshCandSql: String = s"""
        ${sigSql(" WHERE doc_id < 300")},
        $bandCandCte"""

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  /** DuckDB restatement of the 64-bit SimHash bit construction
    * ([[graft.operators.Dedup.simhashSignatures64]]): bit j weighs bit
    * 3-(j%4) of md5(word)'s nibble j/4+1.
    */
  private def bits64Sql: String = {
    def hexWithBit(b: Int) = (0 until 16).filter(n => (n >> b & 1) == 1)
      .map(n => s"'${Integer.toHexString(n)}'").mkString(",")
    (0 until 64).map { j =>
      s"""CASE WHEN SUM(CASE WHEN substr(md5(w),${j / 4 + 1},1) IN
         |(${hexWithBit(3 - j % 4)}) THEN 1 ELSE -1 END) > 0
         |THEN '1' ELSE '0' END""".stripMargin.replace("\n", " ")
    }.mkString(" || ")
  }

  /** q95/q184's probe: the incoming slice against the persisted band
    * index at `path`, verified by exact Jaccard >= 0.3.
    */
  private def probeIncoming(s: SparkSession, path: String,
      existing: DataFrame, incoming: DataFrame): DataFrame =
    Dedup.incrementalNearDupPairs(s, path, existing, incoming,
        "doc_id", "text", k = 4, n = 3, bandWidth = 2,
        maxBucket = 1000, minJaccard = 0.3)
      .orderBy("new_id", "old_id")

  /** q211/q212's row shape: cleaned text by md5 plus the span stats. */
  private def substringDedupStats(out: DataFrame): DataFrame =
    out.select(col("doc_id"),
        md5(col("text_clean")).as("clean_md5"),
        col("n_spans").cast("long").as("n_spans"),
        col("removed_tokens").cast("long").as("removed_tokens"),
        col("orig_tokens").cast("long").as("orig_tokens"))
      .orderBy("doc_id")

  /** DuckDB CTE `sig(doc_id, h0..h3)`: 4 trigram-shingle minhashes per
    * doc ([[Dedup.minhashSignatures]] with k=4, n=3) over the
    * documents `where` selects.
    */
  private def sigSql(where: String): String = s"""sig AS (
      SELECT doc_id,
        min(substr(md5('0:'||g),1,16)) AS h0, min(substr(md5('1:'||g),1,16)) AS h1,
        min(substr(md5('2:'||g),1,16)) AS h2, min(substr(md5('3:'||g),1,16)) AS h3
      FROM (SELECT doc_id,
              unnest(list_transform(range(1, len(l)-1),
                     i -> l[i]||' '||l[i+1]||' '||l[i+2])) AS g
            FROM (SELECT doc_id, string_split(text,' ') AS l FROM documents$where))
      GROUP BY 1)"""

  /** [[sigSql]] over the whole corpus (also the candidate-pair front
    * of the corpus-build oracle, q55).
    */
  private[queries] val sigCte = sigSql("")

  /** DuckDB CTE `bands(doc_id, band_id, band_key)`: 2 bands of width 2
    * over [[sigSql]] ([[Dedup.lshBands]]).
    */
  private val bandsCte = """bands AS (
      SELECT doc_id, 0 AS band_id, md5(h0||h1) AS band_key FROM sig
      UNION ALL SELECT doc_id, 1, md5(h2||h3) FROM sig)"""

  /** Band keys under the hot-key guard (maxBucket = 1000). */
  private val okCte = """ok AS (SELECT band_id, band_key FROM bands
           GROUP BY 1, 2 HAVING count(*) <= 1000)"""

  /** Candidate pairs: docs sharing a guarded band key, id1 < id2. */
  private val bandPairsSql = """SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM bands a
      JOIN ok o ON a.band_id = o.band_id AND a.band_key = o.band_key
      JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id"""

  /** [[bandsCte]] + [[okCte]] → `cand(id1, id2)`
    * ([[Dedup.lshCandidatePairs]]).
    */
  private val bandCandCte = s"""$bandsCte,
    $okCte,
    cand AS (
      $bandPairsSql)"""

  /** `edges` + recursive min-label `comp(node, label)` over the pair
    * CTE `pairs` ([[Dedup.connectedComponents]]); a node's component
    * is `min(label)`. Needs `WITH RECURSIVE`.
    */
  private def compCte(pairs: String): String = s"""edges AS (
      SELECT id1 AS src, id2 AS dst FROM $pairs
      UNION ALL SELECT id2, id1 FROM $pairs),
    comp(node, label) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, c.label FROM comp c JOIN edges e ON e.src = c.node)"""

  /** Shared DuckDB CTE block: LSH bands over [[sigCte]] → candidate
    * pairs → symmetric edges → recursive min-label components (the
    * declarative restatement of [[graft.operators.Dedup.lshCandidatePairs]]
    * + [[graft.operators.Dedup.connectedComponents]]). Needs
    * `WITH RECURSIVE $sigCte, $componentCte`.
    */
  private[queries] val componentCte = s"""$bandCandCte,
    ${compCte("cand")}"""

  /** The per-node dedup verdict over [[compCte]]: component id and
    * whether the node is its component's kept (minimum-id) member.
    */
  private val keepSql = """SELECT node, min(label) AS component, node = min(label) AS keep
        FROM comp GROUP BY node ORDER BY node"""

  /** `DISTINCT (doc_id, g)` word-trigram rows of the documents `where`
    * selects ([[Dedup.ngramJaccardPairs]]'s shingle sets); callers
    * wrap it as `grams AS (...)`.
    */
  private def gramsSql(where: String = ""): String =
    s"""SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
              unnest(list_transform(range(1, len(l)-1),
                     i -> l[i]||' '||l[i+1]||' '||l[i+2])) AS g
            FROM (SELECT doc_id, string_split(text,' ') AS l FROM documents$where))"""

  /** All-pairs shared-gram counts `(id1, id2, n_inter)` over `grams`;
    * callers wrap it as `inter AS (...)`.
    */
  private val pairInterSql = """SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_inter
          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2"""

  /** `grams` over the documents `where` selects + their `sizes(doc_id,
    * sz)`.
    */
  private def gramSizesCte(where: String = ""): String = s"""grams AS (
          ${gramsSql(where)}),
        sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1)"""

  /** [[gramSizesCte]] + all-pairs `inter(id1, id2, n_inter)` (q34,
    * q128, q158).
    */
  private def pairInterCte(where: String = ""): String = s"""${gramSizesCte(where)},
        inter AS (
          $pairInterSql)"""

  /** Exact trigram Jaccard of the `cand(a, b)` pairs, cut at 0.3
    * (q37, q95, q184): grams of every doc, per-doc sizes, the shared
    * count per candidate pair.
    */
  private def candJaccardSql(a: String, b: String): String = s"""${gramSizesCte()},
        inter AS (
          SELECT c.$a, c.$b, count(*) AS n_inter
          FROM cand c
          JOIN grams g1 ON g1.doc_id = c.$a
          JOIN grams g2 ON g2.doc_id = c.$b AND g2.g = g1.g
          GROUP BY 1, 2)
        SELECT $a, $b,
               CAST(n_inter AS DOUBLE) / CAST(s1.sz + s2.sz - n_inter AS DOUBLE)
                 AS jaccard
        FROM inter
        JOIN sizes s1 ON s1.doc_id = $a
        JOIN sizes s2 ON s2.doc_id = $b
        WHERE CAST(n_inter AS DOUBLE) / CAST(s1.sz + s2.sz - n_inter AS DOUBLE)
              >= 0.3
        ORDER BY 1, 2"""

  /** q95/q184's oracle: the incoming `% 5 = 0` slice probed against ONE
    * flat band set of the `% 5 <> 0` docs, verified by exact Jaccard.
    */
  private lazy val incrementalNearDupSql = s"""
        WITH $sigCte,
        $bandsCte,
        newb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
        oldb AS (SELECT * FROM bands WHERE doc_id % 5 <> 0),
        ok AS (SELECT band_id, band_key FROM oldb
               GROUP BY 1, 2 HAVING count(*) <= 1000),
        cand AS (
          SELECT DISTINCT nw.doc_id AS new_id, ob.doc_id AS old_id
          FROM newb nw
          JOIN ok o ON nw.band_id = o.band_id AND nw.band_key = o.band_key
          JOIN oldb ob
            ON nw.band_id = ob.band_id AND nw.band_key = ob.band_key),
        ${candJaccardSql("new_id", "old_id")}"""

  /** 16-bit SimHash bits over exploded words `w` (q33/q36), the
    * restatement of [[Dedup.simhashSignatures]].
    */
  private val bits16Sql = (0 until 16).map { j =>
    s"""CASE WHEN SUM(CASE WHEN substr(md5(w),${j + 1},1) IN
       |('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0
       |THEN '1' ELSE '0' END""".stripMargin.replace("\n", " ")
  }.mkString(" || ")

  /** Bitwise Hamming distance of two 64-char bitstrings `a`/`b`. */
  private def hamming64Sql(a: String, b: String): String = (1 to 64).map(i =>
    s"CASE WHEN substr($a,$i,1) <> substr($b,$i,1) THEN 1 ELSE 0 END")
    .mkString(" + ")

  /** 64-bit SimHash near-dup candidates `cand(id1, id2, ha, hb)`: 4
    * bands of 16 bits, pigeonhole-complete for Hamming <= 3
    * ([[Dedup.simhashNearDupPairs64]]).
    */
  private lazy val simhash64CandCte = s"""sig AS (
          SELECT doc_id, $bits64Sql AS simhash64
          FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
                FROM documents)
          GROUP BY doc_id),
        bands AS (
          SELECT doc_id, simhash64, b AS band_id,
                 substr(simhash64, b*16+1, 16) AS band_key
          FROM sig, (SELECT unnest(range(0,4)) AS b)),
        cand AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
                 a.simhash64 AS ha, b.simhash64 AS hb
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id)"""

  /** Embedding near-dup pairs `d(id1, id2, dot)` within sized sign-LSH
    * buckets ([[Dedup.embeddingNearDupPairs]]), with the norms `n`.
    */
  private def embPairDotCte(bucket: String): String = s"""b AS (SELECT vec_id, $bucket AS bucket FROM embeddings),
        p AS (SELECT a.vec_id AS id1, c.vec_id AS id2
              FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
        ${SimilarityOps.embCte},
        ${SimilarityOps.normCte("n")},
        d AS (SELECT p.id1, p.id2,
                     CAST(SUM(CAST(e1.v*e2.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
              FROM p JOIN e e1 ON e1.vec_id = p.id1
                     JOIN e e2 ON e2.vec_id = p.id2 AND e2.pos = e1.pos
              GROUP BY 1, 2)"""

  /** Token-window exact substring dedup (q211/q212,
    * [[Dedup.exactSubstringDedup]] with L = 4): window digests, the
    * corpus-first keeper, gaps-and-islands span fusion, token rebuild.
    * `note` is SQL commentary placed in the rebuild's CASE; `where`
    * filters the emitted rows.
    */
  private def substringDedupSql(note: String, where: String): String = s"""
        WITH w AS (SELECT doc_id, text, string_split(text,' ') AS l
                   FROM documents),
        g AS (SELECT doc_id, u.pos AS pos, u.dig AS dig FROM (
                SELECT doc_id, unnest(list_transform(range(1, len(l)-2),
                  i -> struct_pack(pos := CAST(i AS INT),
                    dig := md5(array_to_string(
                      l[CAST(i AS INT):CAST(i+3 AS INT)], ' '))))) AS u
                FROM w WHERE len(l) >= 4)),
        k AS (SELECT dig, count(*) AS cnt,
                     min(doc_id * 1000000 + pos) AS keeper
              FROM g GROUP BY 1),
        m AS (SELECT doc_id, pos AS s, pos + 3 AS e
              FROM g JOIN k USING (dig)
              WHERE cnt > 1 AND doc_id * 1000000 + pos <> keeper),
        i AS (SELECT doc_id, s, e,
                CASE WHEN s <= coalesce(MAX(e) OVER (PARTITION BY doc_id
                       ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     -10) + 1
                  THEN 0 ELSE 1 END AS brk
              FROM m),
        si AS (SELECT doc_id, s, e,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY s, e) AS isl
               FROM i),
        sp AS (SELECT doc_id, min(s) AS s, max(e) AS e
               FROM si GROUP BY doc_id, isl),
        spl AS (SELECT doc_id,
                  list(struct_pack(s := s, e := e) ORDER BY s) AS spans,
                  count(*) AS n_spans,
                  SUM(e - s + 1) AS removed
                FROM sp GROUP BY 1),
        r AS (SELECT w.doc_id,
                CASE WHEN spl.spans IS NULL THEN w.text$note
                  ELSE coalesce(array_to_string(
                    [w.l[ix] for ix in generate_series(1, len(w.l))
                     if len(list_filter(spl.spans,
                          q -> q.s <= ix AND ix <= q.e)) = 0], ' '), '')
                  END AS text_clean,
                coalesce(spl.n_spans, 0) AS n_spans,
                coalesce(spl.removed, 0) AS removed_tokens,
                len(w.l) AS orig_tokens
              FROM w LEFT JOIN spl USING (doc_id))
        SELECT doc_id, md5(text_clean) AS clean_md5,
               CAST(n_spans AS BIGINT) AS n_spans,
               CAST(removed_tokens AS BIGINT) AS removed_tokens,
               CAST(orig_tokens AS BIGINT) AS orig_tokens
        FROM r${where} ORDER BY doc_id"""

  val defs: Seq[QueryDef] = Seq(

    // ---- exact dedup: hash-groupBy on body digest -----------------------
    QueryDef("q30_dedup_exact",
      (s, dir) => {
        Dedup.exactGroups(docs(s, dir), "doc_id", "text").orderBy("digest")
      },
      Some("""
        SELECT md5(text) AS digest, min(doc_id) AS canonical_id,
               count(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY 1""")),

    // ---- MinHash signatures (k=4 over word trigrams), zero-shuffle ------
    QueryDef("q31_minhash_sig",
      (s, dir) => {
        Dedup.minhashSignatures(
            docs(s, dir).select("doc_id", "text"), "doc_id", "text", k = 4, n = 3)
          .orderBy("doc_id")
      },
      Some(s"""
        WITH $sigCte
        SELECT doc_id, h0, h1, h2, h3 FROM sig ORDER BY doc_id""")),

    // ---- LSH banding: candidate near-dup pairs (2 bands × width 2) ------
    QueryDef("q32_lsh_pairs",
      (s, dir) => {
        Dedup.lshCandidatePairs(docs(s, dir), "doc_id", "text",
            k = 4, n = 3, bandWidth = 2)
          .orderBy("id1", "id2")
      },
      Some(s"""
        WITH $sigCte,
        $bandsCte,
        $okCte
        $bandPairsSql
        ORDER BY 1, 2""")),

    // ---- SimHash: 16-bit signature (explode-side codegen path) ----------
    QueryDef("q33_simhash",
      (s, dir) => {
        Dedup.simhashSignatures(docs(s, dir), "doc_id", "text")
          .orderBy("doc_id")
      },
      Some(s"""
        SELECT doc_id, $bits16Sql AS simhash
        FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
        GROUP BY doc_id ORDER BY doc_id""")),

    // ---- SimHash near-dups: nibble-band candidates → exact Hamming ------
    // Capped id range (verification tier, like q34): the synthetic
    // corpus is pathologically self-similar — ~28% of ALL pairs fall
    // within Hamming 3 of a 16-bit signature, so the uncapped output is
    // inherently quadratic in corpus size regardless of banding. Real
    // corpora use 64/128-bit signatures where banding prunes sharply.
    QueryDef("q36_simhash_neardup",
      (s, dir) => {
        Dedup.simhashNearDupPairs(docs(s, dir).filter(col("doc_id") < 200),
            "doc_id", "text", maxHamming = 3)
          .orderBy("id1", "id2")
      },
      Some {
        val hamming = (1 to 16).map(i =>
          s"CASE WHEN substr(a.simhash,$i,1) <> substr(b.simhash,$i,1) THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""
        WITH sig AS (
          SELECT doc_id, $bits16Sql AS simhash
          FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
                FROM documents WHERE doc_id < 200)
          GROUP BY doc_id),
        bands AS (
          SELECT doc_id, simhash, b AS band_id, substr(simhash, b*4+1, 4) AS band_key
          FROM sig, (SELECT unnest(range(0,4)) AS b)),
        cand AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
                 a.simhash AS ha, b.simhash AS hb
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id)
        SELECT id1, id2, hamming FROM (
          SELECT id1, id2, ${hamming.replace("a.simhash", "ha").replace("b.simhash", "hb")} AS hamming
          FROM cand)
        WHERE hamming <= 3
        ORDER BY 1, 2"""
      }),

    // ---- SimHash, 64-bit: the production signature width ----------------
    // Full corpus, no id cap: at 64 bits unrelated docs rarely land
    // within Hamming 3, so neither the signature table nor the banded
    // pair query needs the verification-tier caps q33/q36 carry.
    QueryDef("q52_simhash64",
      (s, dir) => {
        Dedup.simhashSignatures64(docs(s, dir), "doc_id", "text")
          .orderBy("doc_id")
      },
      Some(s"""
        SELECT doc_id, $bits64Sql AS simhash64
        FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
        GROUP BY doc_id ORDER BY doc_id""")),

    // ---- 64-bit SimHash near-dups: 16-bit-band candidates → Hamming -----
    // 4 bands x 16 bits: total recall for Hamming <= 3 by pigeonhole,
    // and a band collision between unrelated docs needs 16 exact bit
    // agreements — the banding actually prunes at this width.
    QueryDef("q53_simhash64_neardup",
      (s, dir) => {
        Dedup.simhashNearDupPairs64(docs(s, dir), "doc_id", "text",
            maxHamming = 3)
          .orderBy("id1", "id2")
      },
      Some(s"""
        WITH $simhash64CandCte
        SELECT id1, id2, hamming FROM (
          SELECT id1, id2, ${hamming64Sql("ha", "hb")} AS hamming FROM cand)
        WHERE hamming <= 3
        ORDER BY 1, 2""")),

    // ---- 64-bit SimHash end-to-end: pairs → components → keep/drop ------
    // The production-grade signature path CLOSED the way q38 closes
    // MinHash: banded Hamming pairs feed connectedComponents, and the
    // output is the per-document dedup verdict itself — component id
    // and whether this doc is the canonical (minimum-id) member kept.
    // Same zero-shuffle native signature + pigeonhole banding as q53;
    // the composition adds only the O(log d) component rounds.
    QueryDef("q61_simhash64_groups",
      (s, dir) => {
        Dedup.connectedComponents(
            Dedup.simhashNearDupPairs64(docs(s, dir), "doc_id", "text",
                maxHamming = 3)
              .select("id1", "id2"))
          .withColumn("keep", col("node") === col("component"))
          .orderBy("node")
      },
      Some(s"""
        WITH RECURSIVE $simhash64CandCte,
        pairs AS (
          SELECT id1, id2 FROM (
            SELECT id1, id2, ${hamming64Sql("ha", "hb")} AS hamming FROM cand)
          WHERE hamming <= 3),
        ${compCte("pairs")}
        $keepSql""")),

    // ---- embedding-cosine near-dup: LSH buckets → exact cosine cut ------
    QueryDef("q35_embedding_neardup",
      (s, dir) => {
        graft.operators.Dedup.embeddingNearDupPairs(
            Tables.table(s, dir, "embeddings"), "vec_id", "embedding",
            sizedDedupPairs(s, dir), threshold = 0.15)
          .orderBy("id1", "id2")
      },
      Some(s"""
        WITH ${embPairDotCte(dedupBucketSql("embedding"))}
        SELECT id1, id2,
               round(dot/(sqrt(n1.nn)*sqrt(n2.nn)), 9) AS cosine
        FROM d JOIN n n1 ON n1.vec_id = id1 JOIN n n2 ON n2.vec_id = id2
        WHERE n1.nn > 0 AND n2.nn > 0
          AND round(dot/(sqrt(n1.nn)*sqrt(n2.nn)), 9) >= 0.15
        ORDER BY 1, 2""")),

    // ---- embedding near-dup GROUPS: pairs → components → keep set -------
    // Closes the embedding dedup path end-to-end the way q61 does for
    // 64-bit SimHash: the q35 bucketed pair stage feeds pointer-jumping
    // connected components, yielding one canonical vector per near-dup
    // cluster. Same scale shape as q61 — pairs are bucket-local, the
    // component loop is O(log diameter) rounds with per-round buffer
    // release, and the keep flag is a projection, never a driver list.
    QueryDef("q66_embedding_dedup_groups",
      (s, dir) => {
        Dedup.connectedComponents(
            Dedup.embeddingNearDupPairs(
                Tables.table(s, dir, "embeddings"), "vec_id", "embedding",
                sizedDedupPairs(s, dir), threshold = 0.15)
              .select("id1", "id2"))
          .withColumn("keep", col("node") === col("component"))
          .orderBy("node")
      },
      Some(s"""
        WITH RECURSIVE ${embPairDotCte(dedupBucketSql("embedding"))},
        pairs AS (SELECT id1, id2
                  FROM d JOIN n n1 ON n1.vec_id = id1
                         JOIN n n2 ON n2.vec_id = id2
                  WHERE n1.nn > 0 AND n2.nn > 0
                    AND round(dot/(sqrt(n1.nn)*sqrt(n2.nn)), 9) >= 0.15),
        ${compCte("pairs")}
        $keepSql""")),

    // ---- end-to-end near-dup: LSH candidates → exact Jaccard cut --------
    // The production composition (sub-quadratic): Jaccard is computed
    // only on pairs sharing an LSH band bucket, never all-pairs.
    QueryDef("q37_neardup_pipeline",
      (s, dir) => {
        Dedup.nearDupPairs(docs(s, dir), "doc_id", "text",
            k = 4, n = 3, bandWidth = 2, minJaccard = 0.3)
          .orderBy("id1", "id2")
      },
      Some(s"""
        WITH $sigCte,
        $bandCandCte,
        ${candJaccardSql("id1", "id2")}""")),

    // ---- near-dup groups: candidates → connected components -------------
    // Pairs become groups; each group's component id IS the canonical
    // (minimum) doc id to keep. Oracle restates min-label reachability
    // as a recursive CTE.
    QueryDef("q38_dedup_groups",
      (s, dir) => {
        Dedup.connectedComponents(
            Dedup.lshCandidatePairs(docs(s, dir), "doc_id", "text",
              k = 4, n = 3, bandWidth = 2))
          .groupBy("component")
          .agg(count(lit(1)).as("n_members"))
          .orderBy("component")
      },
      Some(s"""
        WITH RECURSIVE $sigCte, $componentCte
        SELECT component, count(*) AS n_members FROM (
          SELECT node, min(label) AS component FROM comp GROUP BY node)
        GROUP BY component ORDER BY component""")),

    // ---- quality-aware dedup keep rule (q149) ---------------------------
    // q38 labels the duplicate clusters; this gate picks the SURVIVORS
    // the RefinedWeb way — each cluster keeps its longest member
    // (quality = n_chars, id tiebreak), unclustered docs pass through.
    // Min-id keeping (q30's convention) biases toward first-arrival;
    // quality keeping is what a production pipeline ships.
    QueryDef("q149_quality_dedup",
      (s, dir) => {
        val d = docs(s, dir)
        val comps = Dedup.connectedComponents(
          Dedup.lshCandidatePairs(d, "doc_id", "text",
            k = 4, n = 3, bandWidth = 2))
        Dedup.keepBestPerComponent(
            d.select(col("doc_id"), length(col("text")).cast("long")
              .as("n_chars")),
            "doc_id", col("n_chars"), comps)
          .orderBy("doc_id")
      },
      Some(s"""
        WITH RECURSIVE $sigCte, $componentCte,
        cl AS (SELECT node, min(label) AS component FROM comp GROUP BY node),
        m AS (SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
                     cl.component
              FROM documents d LEFT JOIN cl ON cl.node = d.doc_id),
        win AS (SELECT doc_id FROM (
                  SELECT component, doc_id,
                         row_number() OVER (PARTITION BY component
                           ORDER BY n_chars DESC, doc_id) AS rk
                  FROM m WHERE component IS NOT NULL) WHERE rk = 1)
        SELECT doc_id, n_chars FROM m
        WHERE component IS NULL OR doc_id IN (SELECT doc_id FROM win)
        ORDER BY doc_id""")),

    // ---- decontamination: drop docs colliding with a "benchmark" set ----
    // The eval-overlap removal step. The benchmark here is a slice of
    // the same corpus (doc_id % 10 = 0), so collisions include exact
    // duplicates of benchmark docs — which must vanish too.
    // ---- incremental near-dup: new batch vs persisted index (q95) -------
    // The daily-ingest posture: the EXISTING corpus (doc_id % 5 <> 0)
    // has its LSH band index persisted once; the incoming batch
    // (doc_id % 5 = 0) probes that index by equality join and exact
    // Jaccard verifies only the surviving (new, old) candidates —
    // per-ingest cost O(batch) + O(candidates), never O(corpus). The
    // hot-key guard caps INDEX-side bucket population (a boilerplate
    // key accreted over many ingests matches everything). The oracle
    // restates the probe as bands-of-all-docs split by the same
    // predicate and joined across the split.
    QueryDef("q95_incremental_neardup",
      (s, dir) => {
        val all = docs(s, dir)
        val existing = all.filter(col("doc_id") % 5 =!= 0)
        val incoming = all.filter(col("doc_id") % 5 === 0)
        val path = sys.props("java.io.tmpdir") +
          s"/graft_bandidx_q95_${java.lang.Integer.toHexString(dir.hashCode)}/index"
        Dedup.bandIndexWrite(existing, "doc_id", "text",
          k = 4, n = 3, bandWidth = 2, path)
        probeIncoming(s, path, existing, incoming)
      },
      Some(incrementalNearDupSql)),

    // ---- band-index ingest: probe-after-append == probe-after-rebuild ---
    // The dedup index gains the same frozen-layout ingest face as the
    // vector and text indexes (Dedup.bandIndexAppend): geometry is
    // frozen in the build's ledger, a batch's bands land in their
    // keys' shards, one ledger row commits the batch. The gate builds
    // on doc_id % 5 ∉ {0,1}, APPENDS % 5 = 1 as batch "b1", then
    // probes the incoming % 5 = 0 slice — while the oracle computes
    // the probe against ONE flat band set of all % 5 <> 0 docs. It
    // knows nothing about the build/append split, so a hash match
    // proves probe-after-append ≡ probe-after-full-rebuild against an
    // independent engine (q130's proof shape, for the dedup rung).
    QueryDef("q184_band_index_append",
      (s, dir) => {
        val all = docs(s, dir)
        val build = all.filter(col("doc_id") % 5 =!= 0 &&
          col("doc_id") % 5 =!= 1)
        val delta = all.filter(col("doc_id") % 5 === 1)
        val existing = all.filter(col("doc_id") % 5 =!= 0)
        val incoming = all.filter(col("doc_id") % 5 === 0)
        val path = sys.props("java.io.tmpdir") +
          s"/graft_bandidx_q184_${java.lang.Integer.toHexString(dir.hashCode)}/index"
        Dedup.bandIndexWrite(build, "doc_id", "text",
          k = 4, n = 3, bandWidth = 2, path)
        Dedup.bandIndexAppend(delta, "doc_id", "text", path, "b1")
        probeIncoming(s, path, existing, incoming)
      },
      Some(incrementalNearDupSql)),

    // ---- leakage-safe split: near-dup clusters never straddle (q185) ----
    // Doc-keyed train/test splitting puts one near-duplicate in train
    // and its twin in test — the eval then measures memorization. The
    // split key is therefore the doc's DEDUP COMPONENT (q38's
    // machinery) with unclustered docs as singletons
    // ([[graft.operators.Sampling.groupAwareSplit]]): straddling is
    // structurally impossible, and the gate COMPUTES the straddle
    // count from the data (must be 0) rather than asserting it. The
    // oracle rebuilds components recursively and restates the md5
    // bucket thresholds (0.8/0.9 of 0x10000 = cccd/e666) verbatim.
    QueryDef("q185_leakage_safe_split",
      (s, dir) => {
        import graft.operators.Sampling
        val d = docs(s, dir).select(col("doc_id"))
        val comps = Dedup.connectedComponents(
            Dedup.lshCandidatePairs(docs(s, dir), "doc_id", "text",
              k = 4, n = 3, bandWidth = 2))
          .select(col("node").as("doc_id"), col("component"))
          .localCheckpoint(true) // split keying AND straddle audit read it
        val split = Sampling.groupAwareSplit(d, "doc_id", comps,
          "component", "split42",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        val lab = split.join(comps, Seq("doc_id"), "left")
        val per = lab.groupBy("split").agg(
          count(lit(1)).as("n_docs"),
          count_distinct(col("component")).as("n_groups"),
          sum(when(col("component").isNull, 1L).otherwise(0L)).as("n_solo"))
        val straddle = lab.filter(col("component").isNotNull)
          .groupBy("component")
          .agg(count_distinct(col("split")).as("__ns"))
          .agg(coalesce(sum(when(col("__ns") > 1, 1L).otherwise(0L)), lit(0L))
            .as("straddling_groups"))
        per.join(broadcast(straddle), lit(true), "left").orderBy("split")
      },
      Some(s"""
        WITH RECURSIVE $sigCte, $componentCte,
        cl AS (SELECT node, min(label) AS component FROM comp GROUP BY node),
        k AS (SELECT d.doc_id, cl.component,
                CASE WHEN cl.component IS NULL
                     THEN 'solo:'||CAST(d.doc_id AS VARCHAR)
                     ELSE 'grp:'||CAST(cl.component AS VARCHAR) END AS skey
              FROM documents d LEFT JOIN cl ON cl.node = d.doc_id),
        sp AS (SELECT doc_id, component,
                 CASE WHEN substr(md5('split42:'||skey),1,4) < 'cccd'
                      THEN 'train'
                      WHEN substr(md5('split42:'||skey),1,4) < 'e666'
                      THEN 'val'
                      ELSE 'test' END AS split
               FROM k),
        st AS (SELECT CAST(coalesce(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END),
                                    0) AS BIGINT) AS straddling_groups
               FROM (SELECT component, count(DISTINCT split) AS ns FROM sp
                     WHERE component IS NOT NULL GROUP BY 1))
        SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT component) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN component IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_solo,
               st.straddling_groups
        FROM sp, st
        GROUP BY split, st.straddling_groups ORDER BY split""")),

    // ---- persisted portable bloom screen (q190) -------------------------
    // q39 decontaminates by joining the benchmark digests; this is the
    // CROSS-JOB shape — the benchmark ships as a kilobytes-sized
    // (word, bits) bloom table one job writes and every future crawl
    // probes, never re-reading the benchmark corpus. The bloom is
    // md5-bit-positional ([[graft.operators.BloomJoin.bloomCells]]),
    // so DuckDB rebuilds the identical bit table from arithmetic and
    // the gate hash-checks membership EXACTLY — including any false
    // positives, which are deterministic given the hash family. The
    // zero-false-negative property is visible in the output: the
    // (might_contain=0, in_benchmark=1) cell cannot exist.
    QueryDef("q190_bloom_screen",
      (s, dir) => {
        import graft.operators.BloomJoin
        val m = 1 << 18; val k = 3
        val dg = md5(trim(regexp_replace(regexp_replace(
          lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")))
        val withDg = docs(s, dir).select(col("doc_id"), dg.as("dg"))
          .localCheckpoint(true) // bench build + probe + exact read it
        val bench = withDg.filter(col("doc_id") % 10 === 0)
          .select("dg").distinct()
        val path = sys.props("java.io.tmpdir") +
          s"/graft_bloom_q190_${java.lang.Integer.toHexString(dir.hashCode)}/cells"
        BloomJoin.bloomWrite(bench, "dg", m, k, "bl9", path)
        // geometry rides the artifact's own sidecar — probe takes none
        val mc = BloomJoin.bloomProbe(s, path, withDg, "dg")
        withDg.select("dg").distinct()
          .join(mc, "dg")
          .join(bench.withColumn("__in", lit(1)), Seq("dg"), "left")
          .groupBy(col("might_contain").cast("int").as("might_contain"),
            coalesce(col("__in"), lit(0)).as("in_benchmark"))
          .agg(count(lit(1)).as("n_digests"))
          .orderBy("might_contain", "in_benchmark")
      },
      Some("""
        WITH dgs AS (SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]','','g'),' +',' ','g'))) AS dg
             FROM documents),
        bench AS (SELECT DISTINCT dg FROM dgs WHERE doc_id % 10 = 0),
        ks AS (SELECT unnest([0, 1, 2]) AS i),
        bbits AS (SELECT dg,
                    CAST('0x' || substr(md5('bl9:' || i || ':' || dg), 1, 12)
                      AS BIGINT) % 262144 AS bit
                  FROM bench CROSS JOIN ks),
        cells AS (SELECT CAST(bit // 32 AS INT) AS word,
                         bit_or(CAST(1 AS BIGINT) << CAST(bit % 32 AS INT))
                           AS bits
                  FROM bbits GROUP BY 1),
        probe AS (SELECT DISTINCT dg FROM dgs),
        pbits AS (SELECT dg,
                    CAST('0x' || substr(md5('bl9:' || i || ':' || dg), 1, 12)
                      AS BIGINT) % 262144 AS bit
                  FROM probe CROSS JOIN ks),
        pneed AS (SELECT dg, CAST(bit // 32 AS INT) AS word,
                         bit_or(CAST(1 AS BIGINT) << CAST(bit % 32 AS INT))
                           AS need
                  FROM pbits GROUP BY 1, 2),
        mc AS (SELECT p.dg,
                      bool_and((coalesce(c.bits, 0) & p.need) = p.need)
                        AS might
               FROM pneed p LEFT JOIN cells c USING (word) GROUP BY 1)
        SELECT CAST(mc.might AS INT) AS might_contain,
               CASE WHEN bench.dg IS NULL THEN 0 ELSE 1 END AS in_benchmark,
               CAST(count(*) AS BIGINT) AS n_digests
        FROM mc LEFT JOIN bench ON bench.dg = mc.dg
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("q39_decontaminate",
      (s, dir) => {
        val all = docs(s, dir)
        Dedup.decontaminate(all, all.filter(col("doc_id") % 10 === 0), "text")
          .select("doc_id").orderBy("doc_id")
      },
      Some("""
        SELECT doc_id FROM documents d
        WHERE NOT EXISTS (
          SELECT 1 FROM documents b
          WHERE b.doc_id % 10 = 0
            AND md5(trim(regexp_replace(regexp_replace(lower(b.text),'[^a-z0-9 ]','','g'),' +',' ','g')))
              = md5(trim(regexp_replace(regexp_replace(lower(d.text),'[^a-z0-9 ]','','g'),' +',' ','g'))))
        ORDER BY doc_id""")),

    // ---- graded decontamination: n-gram overlap fraction (q90) ----------
    // q39 drops verbatim (normalized) copies; real eval leakage is
    // PARTIAL — a pasted paragraph, a quoted question — so production
    // decontamination reports the fraction of each doc's distinct
    // 3-grams that appear anywhere in the benchmark set and thresholds
    // it. Benchmark = doc_id % 101 = 0 (disjoint from the corpus side
    // here, unlike q39's deliberate self-inclusion). Docs with fewer
    // than 3 words have no grams and drop out in both engines. The
    // overlap is a single fixed-order divide of two exact longs,
    // rounded to the 1e-9 grid — oracle-portable without decimals.
    QueryDef("q90_ngram_overlap",
      (s, dir) => {
        val all = docs(s, dir)
        Dedup.ngramOverlap(
            all.filter(col("doc_id") % 101 =!= 0),
            all.filter(col("doc_id") % 101 === 0),
            "doc_id", "text", n = 3)
          .orderBy("doc_id")
      },
      Some(s"""
        WITH grams AS (
          ${gramsSql(" WHERE doc_id % 101 <> 0")}),
        bgrams AS (
          SELECT DISTINCT g FROM (
            SELECT unnest(list_transform(range(1, len(l)-1),
                   i -> l[i]||' '||l[i+1]||' '||l[i+2])) AS g
            FROM (SELECT string_split(text,' ') AS l
                  FROM documents WHERE doc_id % 101 = 0)))
        SELECT doc_id, count(*) AS n_grams,
               CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hit,
               round(CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)
                   AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) AS overlap
        FROM grams a LEFT JOIN bgrams b ON a.g = b.g
        GROUP BY doc_id ORDER BY doc_id""")),

    // ---- n-gram Jaccard on a capped id range (verification tier) --------
    // At scale this runs on LSH candidates only; the cap keeps the
    // all-pairs verification query scale-independent.
    QueryDef("q34_jaccard_pairs",
      (s, dir) => {
        Dedup.ngramJaccardPairs(
            docs(s, dir).filter(col("doc_id") < 80), "doc_id", "text", n = 3)
          .orderBy("id1", "id2")
      },
      Some(s"""
        WITH ${pairInterCte(" WHERE doc_id < 80")}
        SELECT id1, id2,
               CAST(n_inter AS DOUBLE) / CAST(s1.sz + s2.sz - n_inter AS DOUBLE) AS jaccard
        FROM inter
        JOIN sizes s1 ON s1.doc_id = id1
        JOIN sizes s2 ON s2.doc_id = id2
        ORDER BY 1, 2""")),

    // ---- asymmetric containment (sub-document duplication) --------------
    // C(a→b) = |Sa∩Sb|/|Sa| in both directions per pair — catches a
    // short doc embedded verbatim in a long one, which Jaccard (q34)
    // structurally under-scores (≈ |short|/|long|). Same capped
    // verification tier as q34: at corpus scale this runs on LSH
    // candidates, not all pairs. Operator:
    // [[graft.operators.Dedup.ngramContainmentPairs]].
    QueryDef("q128_containment",
      (s, dir) => {
        Dedup.ngramContainmentPairs(
            docs(s, dir).filter(col("doc_id") < 80), "doc_id", "text", n = 3)
          .orderBy("id1", "id2")
      },
      Some(s"""
        WITH ${pairInterCte(" WHERE doc_id < 80")}
        SELECT id1, id2, n_inter, s1.sz AS sz1, s2.sz AS sz2,
               CAST(n_inter AS DOUBLE) / CAST(s1.sz AS DOUBLE) AS cont_12,
               CAST(n_inter AS DOUBLE) / CAST(s2.sz AS DOUBLE) AS cont_21
        FROM inter
        JOIN sizes s1 ON s1.doc_id = id1
        JOIN sizes s2 ON s2.doc_id = id2
        ORDER BY 1, 2""")),

    // ---- cross-source content-overlap matrix ----------------------------
    // Which sources duplicate each other's content (distinct-trigram
    // Jaccard per source pair) — the diagnostic that decides dedup order
    // and mixture weights before a multi-source run. One data-sized
    // exchange; see [[graft.operators.Dedup.sourceOverlapMatrix]].
    QueryDef("q109_source_overlap",
      (s, dir) => {
        Dedup.sourceOverlapMatrix(docs(s, dir), "source", "text", n = 3)
          .orderBy("src1", "src2")
      },
      Some("""
        WITH grams AS (
          SELECT DISTINCT source AS src, g FROM (
            SELECT source, unnest(list_transform(range(1, len(l)-1),
                   i -> l[i]||' '||l[i+1]||' '||l[i+2])) AS g
            FROM (SELECT source, string_split(text,' ') AS l FROM documents))),
        sizes AS (SELECT src, count(*) AS n_fp FROM grams GROUP BY 1),
        shared AS (
          SELECT a.src AS src1, b.src AS src2, count(*) AS n_shared
          FROM grams a JOIN grams b ON a.g = b.g AND a.src < b.src
          GROUP BY 1, 2)
        SELECT src1, src2, s1.n_fp AS n1, s2.n_fp AS n2, n_shared,
               CAST(n_shared AS DOUBLE) /
               CAST(s1.n_fp + s2.n_fp - n_shared AS DOUBLE) AS overlap
        FROM shared
        JOIN sizes s1 ON s1.src = src1
        JOIN sizes s2 ON s2.src = src2
        ORDER BY 1, 2""")),

    // ---- MinHash estimator calibration (verification tier) --------------
    // Agreement level vs TRUE trigram Jaccard over a capped id range:
    // the measured agreement-vs-similarity curve behind every LSH
    // threshold choice, in exact integer micro-units. Pairs sharing no
    // gram count as true Jaccard 0 (LEFT join), so the agree=0 mass is
    // measured, not truncated.
    QueryDef("q110_minhash_calibration",
      (s, dir) => {
        Dedup.minhashCalibration(
          docs(s, dir).filter(col("doc_id") < 300), "doc_id", "text",
          k = 4, n = 3)
      },
      Some(s"""
        WITH ${sigSql(" WHERE doc_id < 300")},
        pairs AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2,
                 CAST(CASE WHEN a.h0=b.h0 THEN 1 ELSE 0 END
                    + CASE WHEN a.h1=b.h1 THEN 1 ELSE 0 END
                    + CASE WHEN a.h2=b.h2 THEN 1 ELSE 0 END
                    + CASE WHEN a.h3=b.h3 THEN 1 ELSE 0 END AS BIGINT) AS agree
          FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
        grams AS (${gramsSql(" WHERE doc_id < 300")}),
        sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        inter AS ($pairInterSql),
        exact AS (SELECT id1, id2,
                    CAST(n_inter AS DOUBLE) / CAST(s1.sz + s2.sz - n_inter AS DOUBLE) AS jaccard
                  FROM inter
                  JOIN sizes s1 ON s1.doc_id = id1
                  JOIN sizes s2 ON s2.doc_id = id2),
        j AS (SELECT p.agree,
                coalesce(e.jaccard, 0.0) AS jac,
                abs(CAST(p.agree AS DOUBLE)/4.0 - coalesce(e.jaccard, 0.0)) AS err
              FROM pairs p LEFT JOIN exact e USING (id1, id2))
        SELECT agree, count(*) AS n_pairs,
               CAST(sum(CAST(floor(jac*1000000.0) AS BIGINT)) AS BIGINT) AS sum_jac_micro,
               CAST(sum(CAST(floor(err*1000000.0) AS BIGINT)) AS BIGINT) AS sum_abs_err_micro,
               max(CAST(floor(err*1000000.0) AS BIGINT)) AS max_abs_err_micro
        FROM j GROUP BY 1 ORDER BY 1""")),

    // ---- near-dup candidate recall gate (two rungs) ---------------------
    // Candidate recall/precision of the two production banding rungs
    // against exact trigram-Jaccard >= 0.5 truth on a capped range: the
    // dedup analog of the ANN recall gates (q57/q58/q88/q97/q100). The
    // planted near-dup pairs are word-level edits, so 2-band MinHash
    // catches them all while 64-bit SimHash at the 4-band pigeonhole
    // bound (Hamming <= 3) measurably does not — the gate exists to
    // surface exactly that kind of rung difference as a number.
    QueryDef("q111_dedup_recall",
      (s, dir) => {
        val capped = docs(s, dir).filter(col("doc_id") < 300)
        // One all-pairs truth computation shared by both rungs (4
        // consumers: two semi-joins + two counts) — checkpointed, as
        // the recall gates do for their exact baselines.
        val truth = Dedup.ngramJaccardPairs(capped, "doc_id", "text", n = 3)
          .filter(col("jaccard") >= 0.5)
          .select("id1", "id2")
          .localCheckpoint()
        Dedup.candidateRecall("minhash_lsh_k4w2", truth,
            Dedup.lshCandidatePairs(capped, "doc_id", "text",
              k = 4, n = 3, bandWidth = 2))
          .unionByName(Dedup.candidateRecall("simhash64_h3", truth,
            Dedup.simhashNearDupPairs64(capped, "doc_id", "text", maxHamming = 3)))
          .orderBy("rung")
      },
      Some(s"""
        WITH $lshCandSql,
        sig64 AS (
          SELECT doc_id, $bits64Sql AS s64
          FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
                FROM documents WHERE doc_id < 300)
          GROUP BY doc_id),
        cand2 AS (
          SELECT id1, id2 FROM (
            SELECT a.doc_id AS id1, b.doc_id AS id2, ${hamming64Sql("a.s64", "b.s64")} AS hamming
            FROM sig64 a JOIN sig64 b ON a.doc_id < b.doc_id)
          WHERE hamming <= 3),
        grams AS (${gramsSql(" WHERE doc_id < 300")}),
        sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        inter AS ($pairInterSql),
        truth AS (SELECT id1, id2
                  FROM inter
                  JOIN sizes s1 ON s1.doc_id = id1
                  JOIN sizes s2 ON s2.doc_id = id2
                  WHERE CAST(n_inter AS DOUBLE)
                        / CAST(s1.sz + s2.sz - n_inter AS DOUBLE) >= 0.5),
        g1 AS (SELECT 'minhash_lsh_k4w2' AS rung,
                 (SELECT count(*) FROM truth) AS n_truth,
                 (SELECT count(*) FROM cand) AS n_cand,
                 (SELECT count(*) FROM cand c JOIN truth t USING (id1, id2)) AS n_hit),
        g2 AS (SELECT 'simhash64_h3' AS rung,
                 (SELECT count(*) FROM truth) AS n_truth,
                 (SELECT count(*) FROM cand2) AS n_cand,
                 (SELECT count(*) FROM cand2 c JOIN truth t USING (id1, id2)) AS n_hit)
        SELECT rung, n_truth, n_cand, n_hit,
               CAST(floor(CAST(n_hit AS DOUBLE)/CAST(n_truth AS DOUBLE)*1000000.0) AS BIGINT)
                 AS recall_micro,
               CAST(floor(CAST(n_hit AS DOUBLE)/CAST(n_cand AS DOUBLE)*1000000.0) AS BIGINT)
                 AS precision_micro
        FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
        ORDER BY rung""")),

    // ---- SemDeDup: cluster-then-prune semantic dedup --------------------
    // The scale recipe for embedding dedup (Abbas et al. 2023): the
    // quadratic pair stage runs only WITHIN coarse clusters, keep-rule
    // is least-like-centroid-first. Oracle restates the whole chain —
    // sign buckets, decimal-grid float centroids, 1e-9-rounded decimal
    // cosines, the dominance drop — declaratively. Survivors only.
    // 8 sign bits (256 clusters): cluster count is the quadratic-stage
    // knob and must GROW with the corpus — the 16-bucket variant was
    // the slowest query in the suite at sf0.1 (9.2 s, ~780k pairs).
    QueryDef("q114_semdedup",
      (s, dir) => {
        graft.operators.Dedup.semDedup(
            Tables.table(s, dir, "embeddings"), "vec_id", "embedding",
            sizedDedupPairs(s, dir), eps = 0.15)
          .orderBy("vec_id")
      },
      Some {
        val bucket = dedupBucketSql("m.embedding")
        s"""
        WITH ${SimilarityOps.embCte},
        ${SimilarityOps.normCte("vn")},
        b AS (SELECT m.vec_id, $bucket AS cluster
              FROM embeddings m JOIN vn ON vn.vec_id = m.vec_id AND vn.nn > 0),
        c AS (SELECT b.cluster, e.pos,
                     CAST(round(CAST(SUM(CAST(e.v AS DECIMAL(38,18))) AS DOUBLE)
                       / count(*), 9) AS REAL) AS cf
              FROM e JOIN b USING (vec_id) GROUP BY 1, 2),
        cd AS (SELECT cluster, pos, CAST(cf AS DOUBLE) AS c FROM c),
        cn AS (SELECT cluster, CAST(SUM(CAST(c*c AS DECIMAL(38,18))) AS DOUBLE) AS nn
               FROM cd GROUP BY 1),
        dd AS (SELECT b.vec_id, b.cluster,
                      CAST(SUM(CAST(e.v*cd.c AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM b JOIN e USING (vec_id)
               JOIN cd ON cd.cluster = b.cluster AND cd.pos = e.pos
               GROUP BY 1, 2),
        sc AS (SELECT dd.vec_id, dd.cluster,
                      CASE WHEN cn.nn > 0
                           THEN round(dd.dot/(sqrt(vn.nn)*sqrt(cn.nn)), 9)
                      END AS sim_centroid
               FROM dd JOIN vn USING (vec_id) JOIN cn USING (cluster)),
        pr AS (SELECT vec_id, cluster, sim_centroid,
                      row_number() OVER (PARTITION BY cluster
                        ORDER BY sim_centroid ASC NULLS FIRST, vec_id) AS rk
               FROM sc),
        pd AS (SELECT a.vec_id AS id1, c2.vec_id AS id2,
                      CAST(SUM(CAST(e1.v*e2.v AS DECIMAL(38,18))) AS DOUBLE) AS dot
               FROM b a JOIN b c2 ON a.cluster = c2.cluster
                                 AND a.vec_id < c2.vec_id
               JOIN e e1 ON e1.vec_id = a.vec_id
               JOIN e e2 ON e2.vec_id = c2.vec_id AND e2.pos = e1.pos
               GROUP BY 1, 2),
        nd AS (SELECT id1, id2 FROM pd
               JOIN vn n1 ON n1.vec_id = id1 JOIN vn n2 ON n2.vec_id = id2
               WHERE round(dot/(sqrt(n1.nn)*sqrt(n2.nn)), 9) >= 0.15),
        dropped AS (SELECT DISTINCT CASE WHEN p1.rk < p2.rk THEN nd.id2
                                         ELSE nd.id1 END AS vec_id
                    FROM nd JOIN pr p1 ON p1.vec_id = nd.id1
                            JOIN pr p2 ON p2.vec_id = nd.id2)
        SELECT vec_id, cluster, sim_centroid FROM pr
        WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
        ORDER BY vec_id"""
      }),

    // ---- winnowing substring-share profile (q120) -----------------------
    // Char-level exact-substring duplication (the Lee et al. dedup
    // axis word n-grams miss), detected alignment-robustly via MOSS
    // winnowing: k=20 char grams, min-of-8 windows — any shared
    // substring ≥ 27 chars yields an identical fingerprint in both
    // docs. The oracle restates grams, windows, min-select, distinct,
    // df, and the floored micro ratio declaratively.
    QueryDef("q120_winnowing",
      (s, dir) => {
        // The fixture is one parquet row group = one scan task, and
        // winnowing's per-char gram hashing is the cost — widen the
        // mapper stage explicitly (fixed N: AQE keeps it). At
        // production scale the scan's own file splits provide this
        // parallelism and the repartition would be wasted motion; it
        // exists because a row group is the minimum split unit.
        graft.operators.Dedup.winnowingShareStats(
            docs(s, dir).repartition(
              s.sessionState.conf.numShufflePartitions),
            "doc_id", "text", k = 20, w = 8)
          .orderBy("doc_id")
      },
      Some("""
        WITH g AS (SELECT doc_id,
                     list_transform(range(1, len(text) - 20 + 2),
                       i -> md5(substr(text, CAST(i AS INTEGER), 20))) AS gr
                   FROM documents
                   WHERE text IS NOT NULL AND len(text) >= 27),
        sel AS (SELECT DISTINCT doc_id, fp FROM (
                  SELECT doc_id,
                         unnest(list_transform(range(1, len(gr) - 8 + 2),
                           j -> list_min(gr[CAST(j AS INTEGER):CAST(j + 7 AS INTEGER)]))) AS fp
                  FROM g)),
        df AS (SELECT fp, CAST(count(*) AS BIGINT) AS df FROM sel GROUP BY 1),
        per AS (SELECT sel.doc_id, CAST(count(*) AS BIGINT) AS n_fp,
                       CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_shared
                FROM sel JOIN df USING (fp) GROUP BY 1)
        SELECT doc_id, n_fp, n_shared,
               CAST(floor(n_shared * 1000000 / n_fp) AS BIGINT) AS shared_micro
        FROM per ORDER BY doc_id""")),

    // ---- edit-distance verification rung (q121) -------------------------
    // The last rung of the dedup ladder: LSH bands PROPOSE (the q111
    // candidate set, single-sourced CTE), exact bounded Levenshtein
    // DECIDES. The O(len²) DP runs only on proposed pairs and only on
    // 500-char prefixes — never all-pairs, never unbounded.
    QueryDef("q121_edit_verify",
      (s, dir) => {
        val capped = docs(s, dir).filter(col("doc_id") < 300)
        graft.operators.Dedup.editVerifiedPairs(capped, "doc_id", "text",
            graft.operators.Dedup.lshCandidatePairs(capped, "doc_id", "text",
              k = 4, n = 3, bandWidth = 2))
          .orderBy("id1", "id2")
      },
      Some(s"""
        WITH $lshCandSql,
        t AS (SELECT doc_id, substr(text, 1, 500) AS t FROM documents),
        lv AS (SELECT c.id1, c.id2,
                      levenshtein(ta.t, tb.t) AS lev,
                      greatest(len(ta.t), len(tb.t)) AS mx
               FROM cand c JOIN t ta ON ta.doc_id = c.id1
                           JOIN t tb ON tb.doc_id = c.id2)
        SELECT id1, id2, CAST(lev AS BIGINT) AS lev,
               round(1.0 - CAST(lev AS DOUBLE)/CAST(mx AS DOUBLE), 9) AS sim
        FROM lv
        WHERE round(1.0 - CAST(lev AS DOUBLE)/CAST(mx AS DOUBLE), 9) >= 0.5
        ORDER BY 1, 2""")),

    // ---- substring-span REMOVAL (q132) ----------------------------------
    // q120 detects shared substrings; this is the REWRITE — the
    // RefinedWeb/CCNet action: spans whose winnowing fingerprints also
    // appear in a lower-id (higher-priority) document are excised and
    // the cleaned text re-emitted. The oracle restates the whole
    // pipeline declaratively: position-aware window argmin
    // (list_position of the window min = the deque's earliest-index
    // tie rule), min-id fingerprint owners, gaps-and-islands span
    // merge (running-max window), and segment reassembly via
    // string_agg. Cleaned text is compared by md5 so the artifact
    // stays row-shaped.
    QueryDef("q132_span_removal",
      (s, dir) => {
        // q120's single-row-group widening (see comment there): the
        // winnow mapper is the cost and the fixture cannot split.
        graft.operators.Dedup.removeDuplicatedSpans(
            docs(s, dir).repartition(
              s.sessionState.conf.numShufflePartitions),
            "doc_id", "text", k = 20, w = 8, maxGap = 28)
          .select(col("doc_id"),
            md5(col("text_clean")).as("clean_md5"),
            col("n_spans").cast("long").as("n_spans"),
            col("removed_chars").cast("long").as("removed_chars"),
            col("orig_chars").cast("long").as("orig_chars"))
          .orderBy("doc_id")
      },
      Some("""
        WITH gr AS (SELECT doc_id,
                      list_transform(range(1, len(text) - 20 + 2),
                        i -> md5(substr(text, CAST(i AS INTEGER), 20))) AS gr
                    FROM documents
                    WHERE text IS NOT NULL AND len(text) >= 27),
        sel AS (SELECT DISTINCT doc_id, pos FROM (
                  SELECT doc_id,
                         unnest(list_transform(range(1, len(gr) - 8 + 2),
                           j -> CAST(j AS INTEGER) - 1 +
                                list_position(
                                  gr[CAST(j AS INTEGER):CAST(j + 7 AS INTEGER)],
                                  list_min(gr[CAST(j AS INTEGER):CAST(j + 7 AS INTEGER)]))))
                           AS pos
                  FROM gr)),
        fp AS (SELECT s.doc_id, s.pos, g.gr[s.pos] AS fp
               FROM sel s JOIN gr g USING (doc_id)),
        own AS (SELECT fp, min(doc_id) AS owner FROM fp GROUP BY 1),
        r AS (SELECT DISTINCT f.doc_id, f.pos AS s, f.pos + 19 AS e
              FROM fp f JOIN own USING (fp) WHERE own.owner < f.doc_id),
        o AS (SELECT doc_id, s, e,
                CASE WHEN s - max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 1 <= 28
                     THEN 0 ELSE 1 END AS brk
              FROM r),
        isl AS (SELECT doc_id, s, e,
                  SUM(brk) OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
                FROM o),
        sp AS (SELECT doc_id, grp, min(s) AS s, max(e) AS e
               FROM isl GROUP BY 1, 2),
        sp2 AS (SELECT doc_id, s, e,
                  coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
                FROM sp),
        mx AS (SELECT doc_id, max(e) AS me FROM sp GROUP BY 1),
        pieces AS (
          SELECT sp2.doc_id, sp2.pe AS ord,
                 substr(d.text, sp2.pe + 1, sp2.s - sp2.pe - 1) AS piece
          FROM sp2 JOIN documents d USING (doc_id)
          UNION ALL
          SELECT mx.doc_id, mx.me AS ord, substr(d.text, mx.me + 1) AS piece
          FROM mx JOIN documents d USING (doc_id)),
        clean AS (SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS text_clean
                  FROM pieces GROUP BY 1),
        st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                      CAST(SUM(e - s + 1) AS BIGINT) AS removed_chars
               FROM sp GROUP BY 1)
        SELECT d.doc_id,
               md5(coalesce(c.text_clean, d.text)) AS clean_md5,
               coalesce(st.n_spans, 0) AS n_spans,
               coalesce(st.removed_chars, 0) AS removed_chars,
               CAST(coalesce(len(d.text), 0) AS BIGINT) AS orig_chars
        FROM documents d
        LEFT JOIN clean c USING (doc_id)
        LEFT JOIN st USING (doc_id)
        ORDER BY doc_id""")),

    // ---- prefix-filtered EXACT Jaccard join (PPJoin family) -------------
    // The scale rung between the exact-but-all-pairs q34 and the
    // fast-but-lossy LSH q32: prefix filtering (rare-first token order,
    // prefix = sz - ceil(t·sz) + 1, length filter, exact verify) returns
    // EXACTLY the J ≥ t pairs with no all-pairs join and no recall loss.
    // The oracle is the brute-force all-pairs threshold join — the gate
    // therefore PROVES the prefix filter drops no qualifying pair, the
    // same way q57/q58 prove ANN recall. Operator:
    // [[graft.operators.Dedup.prefixJaccardPairs]]. Uncapped: the
    // operator's own pruning is the reason the query can afford the
    // whole documents table where q34 needs a doc_id cap.
    QueryDef("q158_prefix_jaccard",
      (s, dir) => {
        Dedup.prefixJaccardPairs(docs(s, dir), "doc_id", "text",
            n = 3, threshold = 0.5)
          .orderBy("id1", "id2")
      },
      Some(s"""
        WITH ${pairInterCte()}
        SELECT id1, id2, CAST(n_inter AS BIGINT) AS n_inter,
               CAST(n_inter AS DOUBLE) / CAST(s1.sz + s2.sz - n_inter AS DOUBLE)
                 AS jaccard
        FROM inter
        JOIN sizes s1 ON s1.doc_id = id1
        JOIN sizes s2 ON s2.doc_id = id2
        WHERE CAST(n_inter AS DOUBLE) / CAST(s1.sz + s2.sz - n_inter AS DOUBLE)
                >= 0.5
        ORDER BY id1, id2""")),

    // ---- corpus-wide paragraph dedup (CCNet) ----------------------------
    // The CCNet pre-dedup step: exactly ONE copy of every distinct
    // paragraph survives corpus-wide (first occurrence by (doc_id,
    // position)); each document re-emits its survivors in order. The
    // fixture has no newlines, so the gate materializes paragraphs as
    // non-overlapping 3-word chunks joined by '\n' — the operator
    // itself ([[Dedup.dropDuplicatedParagraphs]]) is delimiter-based
    // and exercises its real split/keep/reassemble path. The keeper
    // rule is an AGGREGATE (min(struct(id,pos)) with map-side partial
    // combine), not a row_number window: a boilerplate paragraph in
    // millions of docs must not become one hot window partition.
    QueryDef("q196_paragraph_dedup",
      (s, dir) => {
        val w = split(col("text"), " ")
        val withParas = docs(s, dir).select(col("doc_id"),
          concat_ws("\n", transform(
            sequence(lit(1),
              greatest(org.apache.spark.sql.functions.size(w), lit(1)),
              lit(3)),
            st => concat_ws(" ", slice(w, st, lit(3))))).as("text"))
        Dedup.dropDuplicatedParagraphs(withParas, "doc_id", "text", "\n")
          .select(col("doc_id"), md5(col("text_clean")).as("clean_md5"),
            col("n_paras"), col("n_dropped"))
          .orderBy("doc_id")
      },
      Some("""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS l
                   FROM documents),
        pp AS (SELECT doc_id, u.pos AS pos, u.para AS para FROM (
                 SELECT doc_id,
                   unnest(list_transform(range(1, len(l)+1, 3),
                     s -> struct_pack(
                       pos := CAST((s-1)/3 AS INT),
                       para := array_to_string(
                         l[CAST(s AS INT):CAST(s+2 AS INT)], ' ')))) AS u
                 FROM w)),
        rk AS (SELECT doc_id, pos, para,
                 row_number() OVER (PARTITION BY md5(para)
                   ORDER BY doc_id, pos) AS rn
               FROM pp WHERE trim(para) <> ''),
        np AS (SELECT doc_id, count(*) AS n FROM pp GROUP BY 1),
        a AS (SELECT doc_id, count(*) AS nk,
                string_agg(para, chr(10) ORDER BY pos) AS text_clean
              FROM rk WHERE rn = 1 GROUP BY 1)
        SELECT np.doc_id,
               md5(coalesce(a.text_clean, '')) AS clean_md5,
               CAST(np.n AS BIGINT) AS n_paras,
               CAST(np.n - coalesce(a.nk, 0) AS BIGINT) AS n_dropped
        FROM np LEFT JOIN a USING (doc_id)
        ORDER BY doc_id""")),

    // ---- exact substring dedup (Lee et al. 2021, q-gram cover) ----------
    // Every duplicated 4-token window (cross-doc AND self-repeat) is
    // removed except the corpus-first occurrence; overlapping windows
    // fuse into maximal spans; documents re-emit surviving tokens.
    // Token-EXACT boundaries — the deterministic counterpart of the
    // winnowing span removal (q134 family), oracle-restated window by
    // window: same md5 digests, same min(doc,pos) keeper (encoded as
    // doc*1000000+pos in SQL — pos is bounded by doc length, so the
    // encoding is the lexicographic order), same gaps-and-islands
    // fusion, same token rebuild. Operator:
    // [[graft.operators.Dedup.exactSubstringDedup]] (production
    // default L=20; the gate uses L=4 so the fixture corpus carries
    // signal — 2,986 duplicated windows across 369 docs at sf0.01).
    QueryDef("q211_exact_substring_dedup",
      (s, dir) => {
        Dedup.exactSubstringDedup(docs(s, dir), "doc_id", "text",
            minTokens = 4)
          .transform(substringDedupStats)
      },
      Some(substringDedupSql(
        note = """
                  -- coalesce: array_to_string([]) is NULL in DuckDB,
                  -- but a fully-gutted doc must clean to '' (Spark's
                  -- array_join of an empty array)""", where = ""))),

    // ---- incremental exact substring dedup (q212) -----------------------
    // q211's window-digest index face (the q184 proof shape for the
    // exact rung): build the index on doc_id < 400, APPEND 400-449 as
    // batch "b1", then dedup the incoming >= 450 slice against the
    // indexed history + itself. The oracle computes the FLAT q211
    // chain over ALL documents and keeps the >= 450 rows — it knows
    // nothing about the build/append split, so a hash match proves
    // probe-after-append ≡ flat corpus dedup (valid because corpus
    // ids order before incoming ids: the corpus-first keeper is
    // always on the index side).
    QueryDef("q212_incremental_substring_dedup",
      (s, dir) => {
        val all = docs(s, dir)
        val path = sys.props("java.io.tmpdir") +
          s"/graft_winidx_q212_${java.lang.Integer.toHexString(dir.hashCode)}/index"
        Dedup.windowIndexWrite(all.filter(col("doc_id") < 400),
          "doc_id", "text", minTokens = 4, path)
        Dedup.windowIndexAppend(
          all.filter(col("doc_id") >= 400 && col("doc_id") < 450),
          "doc_id", "text", path, "b1")
        Dedup.incrementalExactSubstringDedup(s, path,
            all.filter(col("doc_id") >= 450), "doc_id", "text")
          .transform(substringDedupStats)
      },
      Some(substringDedupSql(note = "", where = " WHERE doc_id >= 450"))))
}
