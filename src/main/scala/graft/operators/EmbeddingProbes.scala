package graft.operators

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Certification probe for the PCA power-iteration head (x85): the
  * oracle re-derives the ENTIRE fit in SQL — per-index moments, the
  * round-6-lattice covariance, all power-iteration rounds CTE-for-CTE
  * (matvec, norm, renormalize), and the centered projection — so the
  * hash compare certifies the trained component AND the scoring pass,
  * the linear-algebra analogue of the x81 GD-trajectory oracle.
  */
object EmbeddingProbes {

  /** The integer-lattice power iteration unrolled as SQL: the
    * covariance lands on the 1e-6 lattice (the ONE data-fed round
    * pin) as exact BIGINT micro-units, each iteration is pure integer
    * arithmetic (HUGEINT matvec sums, max-|·| normalization via
    * sign-pinned truncating division — `//` on the made-positive
    * operand, since DuckDB floors and the driver truncates), and the
    * projection re-derives the component as v/10⁶ doubles. */
  private def pcaSql(dim: Int, iters: Int): String = {
    val iterCtes = (1 to iters).map { t =>
      s"""v$t AS (
         |  SELECT i, CASE WHEN w < 0 THEN -((ABS(w) * 1000000) // m)
         |                 ELSE (w * 1000000) // m END AS v FROM (
         |    SELECT i, w, MAX(ABS(w)) OVER () AS m FROM (
         |      SELECT c.i AS i, SUM(c.ci * p.v) AS w
         |      FROM cov c JOIN v${t - 1} p ON p.i = c.j GROUP BY c.i)))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, g.i - 1 AS i, CAST(embedding[g.i] AS DOUBLE) AS x
       |  FROM embeddings, (SELECT unnest(generate_series(1, $dim)) AS i) g),
       |nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |mu AS (SELECT i, SUM(x) / (SELECT n FROM nn) AS m FROM e GROUP BY i),
       |cov AS (
       |  SELECT a.i AS i, b.i AS j,
       |    CAST(ROUND(SUM(a.x * b.x) / (SELECT n FROM nn) - ma.m * mb.m, 6)
       |         * 1000000 AS BIGINT) AS ci
       |  FROM e a JOIN e b ON a.vec_id = b.vec_id
       |  JOIN mu ma ON ma.i = a.i JOIN mu mb ON mb.i = b.i
       |  GROUP BY a.i, b.i, ma.m, mb.m),
       |v0 AS (SELECT g.i - 1 AS i, CAST(1000000 AS HUGEINT) AS v
       |       FROM (SELECT unnest(generate_series(1, $dim)) AS i) g),
       |$iterCtes
       |SELECT e.vec_id,
       |  ROUND(SUM((e.x - mu.m) * (CAST(vz.v AS DOUBLE) / 1000000)), 6) AS pc1
       |FROM e JOIN mu ON mu.i = e.i JOIN v$iters vz ON vz.i = e.i
       |GROUP BY e.vec_id ORDER BY e.vec_id""".stripMargin
  }

  /** The deterministic Lloyd loop unrolled as SQL: md5-hash init
    * cells, then per round a ROUND(AVG,6) centroid CTE and a round-6
    * argmin re-assignment CTE — the x73 index CTEs iterated, the
    * clustering sibling of the pcaSql trajectory unroll. */
  private def kmeansCtes(nlist: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""c$r AS (
         |  SELECT cell, list(cx ORDER BY j) AS c FROM (
         |    SELECT cell, j, ROUND(AVG(x), 6) AS cx FROM a${r - 1},
         |      LATERAL (SELECT unnest(v) AS x,
         |               generate_subscripts(v, 1) AS j)
         |    GROUP BY cell, j)
         |  GROUP BY cell),
         |a$r AS (
         |  SELECT vec_id, v, cell FROM (
         |    SELECT e.vec_id, e.v, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        ROUND(list_dot_product(e.v, e.v)
         |          - 2 * list_dot_product(e.v, c.c)
         |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
         |    FROM e CROSS JOIN c$r c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |a0 AS (
       |  SELECT vec_id, v,
       |    CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 6) AS BIGINT)
       |      % $nlist AS cell
       |  FROM e),
       |$roundCtes""".stripMargin
  }

  private def kmeansSql(nlist: Int, rounds: Int): String =
    s"""${kmeansCtes(nlist, rounds)}
       |SELECT a.vec_id, a.cell,
       |  ROUND(list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, c.c)
       |    + list_dot_product(c.c, c.c), 6) AS dist
       |FROM a$rounds a JOIN c$rounds c USING (cell)
       |ORDER BY a.vec_id""".stripMargin

  val probes: Seq[Probe] = Seq(

    // IvfIndex.lloydIterate: FULL deterministic k-means (3 Lloyd
    // rounds from the md5-hash init) — the clustering a SemDeDup/D4
    // curation stack runs before per-cluster dedup/balancing. The
    // oracle re-derives every round's centroids and re-assignment
    // CTE-for-CTE plus the final round-6 distance of each vector to
    // its centroid, so the hash certifies the whole trained
    // trajectory, not just the last assignment -----------------------
    Probe("x101_kmeans_rounds",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val embs = Tables.embeddings(s, d)
        val (cents, assigned) = IvfIndex.lloydIterate(embs, nlist = 8,
          rounds = 3)
        assigned.join(broadcast(cents), Seq("cell"))
          .select(col("vec_id"), col("cell"),
            IvfIndex.sqDist(col("embedding"), col("centroid")).as("dist"))
          .orderBy("vec_id")
      },
      Some(kmeansSql(8, 3))),

    // Dedup.semanticDedupKMeans: SemDeDup on FULL k-means cells (the
    // Abbas et al. 2023 shape — the paper clusters with real k-means;
    // x29 certifies the one-step-quantizer variant). The oracle
    // composes the x101 round CTEs with the x29 within-cell pair
    // decision over the FINAL assignment ----------------------------
    Probe("x103_semantic_dedup_kmeans",
      (s, d) => {
        graft.GraftExtensions.register(s)
        Dedup.semanticDedupKMeans(Tables.embeddings(s, d), nlist = 8,
            rounds = 3, tau = 0.25)
          .orderBy("vec_id")
      },
      Some(s"""${kmeansCtes(8, 3)},
              |dups AS (
              |  SELECT DISTINCT b.vec_id AS dup_id
              |  FROM a3 a JOIN a3 b USING (cell)
              |  WHERE a.vec_id < b.vec_id
              |    AND ROUND(list_dot_product(a.v, b.v) /
              |      (SQRT(list_dot_product(a.v, a.v)) *
              |       SQRT(list_dot_product(b.v, b.v))), 6) >= 0.25)
              |SELECT a.vec_id, a.cell, d.dup_id IS NULL AS keep
              |FROM a3 a LEFT JOIN dups d ON a.vec_id = d.dup_id
              |ORDER BY a.vec_id""".stripMargin)),

    // EmbeddingOps.fitPcaTopComponent + projectPc1: one moment
    // aggregation → 8 driver power-iteration rounds → zero-shuffle
    // centered projection --------------------------------------------
    Probe("x85_pca_project",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val model = EmbeddingOps.fitPcaTopComponent(embs, dim = 64, iters = 8)
        EmbeddingOps.projectPc1(embs, model).orderBy("vec_id")
      },
      Some(pcaSql(64, 8))),

    // EmbeddingOps.truncateNormalize + cosine top-k over the
    // truncated space: the Matryoshka storage lever (keep 16 of 64
    // dims, renormalize) with the q27 cosine machinery on top — the
    // oracle re-derives slice, double-cast, L2 normalization with the
    // zero-vector guard, and the rounded dot-product ranking --------
    Probe("x99_matryoshka_topk",
      (s, d) => {
        val t = EmbeddingOps.truncateNormalize(
          Tables.embeddings(s, d), dims = 16)
        val q = t.where(col("vec_id") === 0)
          .select(col("embedding_t").as("q"))
        t.where(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(aggregate(
              zip_with(col("embedding_t"), col("q"), (a, b) => a * b),
              lit(0.0), (acc, x) => acc + x), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id")).limit(10)
      },
      Some("""WITH tn AS (
             |  SELECT vec_id,
             |    list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS t
             |  FROM embeddings),
             |n AS (SELECT vec_id, t,
             |        SQRT(list_dot_product(t, t)) AS nm FROM tn),
             |u AS (SELECT vec_id,
             |        CASE WHEN nm = 0 THEN t
             |             ELSE list_transform(t, x -> x / nm) END AS u
             |      FROM n),
             |q AS (SELECT u AS q FROM u WHERE vec_id = 0)
             |SELECT vec_id, ROUND(list_dot_product(u.u, q.q), 6) AS sim
             |FROM u, q WHERE vec_id <> 0
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // Matryoshka × at-rest composition (the r8 verdict's ask): the
    // truncated-normalized vectors (16 of 64 dims — the storage half
    // of the Matryoshka lever) feed writeInt8Index, so the at-rest
    // codes table is 1/4 the dims AND int8 — 16× smaller bytes than
    // the raw floats — and the query still partition-prunes to nprobe
    // cells. Integer cosine survives partitioning exactly (the x73
    // argument, carried verbatim to the truncated space); the oracle
    // composes the x99 truncation CTEs with the x73 index CTEs.
    // MatryoshkaAtRestSpec gates the file-level PartitionFilters ----
    Probe("x100_matryoshka_at_rest",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val t = EmbeddingOps.truncateNormalize(
            Tables.embeddings(s, d), dims = 16)
          .select(col("vec_id"), col("embedding_t"))
        // value-sensitive fingerprint, computed once per corpus dir;
        // completion marker gates BOTH index outputs (IndexCache doc)
        val tag = IndexCache.corpusTag("x100", d,
          Tables.embeddings(s, d), Seq("vec_id", "embedding"))
        val dir = IndexCache.built(s"x100_mat_index_$tag") { dir =>
          Similarity.writeInt8Index(t, dir, nlist = 8,
            vecCol = "embedding_t")
        }
        val q = t.where(col("vec_id") === 0)
          .select("embedding_t").head().getSeq[Double](0)
        Similarity.topKInt8FromIndex(s, dir, q, k = 10, nprobe = 6,
            excludeId = Some(0L))
          .orderBy(col("sim").desc, col("vec_id"))
      },
      Some("""WITH tn AS (
             |  SELECT vec_id,
             |    list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS t
             |  FROM embeddings),
             |nrm AS (SELECT vec_id, t,
             |        SQRT(list_dot_product(t, t)) AS nm FROM tn),
             |u AS (SELECT vec_id,
             |        CASE WHEN nm = 0 THEN t
             |             ELSE list_transform(t, x -> x / nm) END AS u
             |      FROM nrm),
             |init AS (
             |  SELECT vec_id, u,
             |    CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 6) AS BIGINT)
             |      % 8 AS cell0
             |  FROM u),
             |idims AS (
             |  SELECT cell0, j, x FROM init,
             |    LATERAL (SELECT unnest(u) AS x,
             |             generate_subscripts(u, 1) AS j)),
             |cent AS (
             |  SELECT cell0 AS cell, list(cx ORDER BY j) AS c FROM (
             |    SELECT cell0, j, ROUND(AVG(x), 6) AS cx
             |    FROM idims GROUP BY cell0, j)
             |  GROUP BY cell0),
             |assigned AS (
             |  SELECT vec_id, cell FROM (
             |    SELECT i.vec_id, c.cell,
             |      ROW_NUMBER() OVER (PARTITION BY i.vec_id ORDER BY
             |        ROUND(list_dot_product(i.u, i.u)
             |          - 2 * list_dot_product(i.u, c.c)
             |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM init i CROSS JOIN cent c) WHERE rn = 1),
             |q AS (SELECT u AS qv FROM u WHERE vec_id = 0),
             |probecells AS (
             |  SELECT cell FROM (
             |    SELECT c.cell, ROW_NUMBER() OVER (ORDER BY
             |      ROUND(list_dot_product(q.qv, q.qv)
             |        - 2 * list_dot_product(q.qv, c.c)
             |        + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM cent c CROSS JOIN q) WHERE rn <= 6),
             |qz AS (
             |  SELECT vec_id,
             |    GREATEST(list_max(list_transform(u, x -> abs(x))), 1e-30)
             |      / 127.0 AS s,
             |    u
             |  FROM u),
             |codes AS (
             |  SELECT vec_id,
             |    list_transform(u, x -> floor(x / s + 0.5)) AS codes
             |  FROM qz),
             |qc AS (SELECT codes AS cq FROM codes WHERE vec_id = 0),
             |sim AS (
             |  SELECT c.vec_id,
             |    list_dot_product(c.codes, qc.cq) /
             |      (sqrt(list_dot_product(c.codes, c.codes)) *
             |       sqrt(list_dot_product(qc.cq, qc.cq))) AS sim
             |  FROM codes c
             |  JOIN assigned a USING (vec_id)
             |  JOIN probecells p ON a.cell = p.cell
             |  CROSS JOIN qc
             |  WHERE c.vec_id <> 0)
             |SELECT vec_id, sim FROM sim
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),
  )
}
