package graft.operators

import org.apache.spark.sql.functions._

import graft.geo.SpatialJoin
import graft.impact.Triggers
import graft.sources.Tables

/** Pipeline-machinery certification probes: run the REAL impact/geo
  * module code (Triggers.exceedanceTable, Triggers.dedupKeepMax,
  * SpatialJoin.zonalMean) over testdata shapes, mirrored in DuckDB.
  */
object PipelineProbes {

  val probes: Seq[Probe] = Seq(

    // Dedup.nearDupGroupsDF: the DataFrame label-propagation connected
    // components (the near-dup group decision) hash-certified — until
    // r9 this carried only spec+bench evidence. Deterministic edges:
    // within every 10-id block, ids ≡ 0,1,2 (mod 10) edge to id+1 →
    // 4-node paths of diameter 3, plus isolated ids. The oracle
    // unrolls FOUR closed-neighborhood min-label rounds (≥ diameter,
    // so the unroll reaches the unique fixpoint: labels constant per
    // component at the component-minimum id). The Spark side runs the
    // hop+jump (pointer-halving) loop to convergence — a different
    // round function, but provably the SAME fixpoint (labels monotone,
    // component-confined, min keeps itself), so final tables agree
    // exactly — the iterative-trajectory certification pattern of
    // x101/x81/x85 applied to the graph decision -------------------
    Probe("x105_connected_components",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"))
        val pairs = docs.where(col("doc_id") % 10 < 3)
          .select(col("doc_id").as("id_a"),
            (col("doc_id") + 1).as("id_b"))
        Dedup.nearDupGroupsDF(pairs, docs).orderBy("doc_id")
      },
      Some {
        val rounds = (1 to 4).map { r =>
          s"""l$r AS (
             |  SELECT i.id,
             |    LEAST(i.label, COALESCE(MIN(l.label), i.label)) AS label
             |  FROM l${r - 1} i
             |  LEFT JOIN e ON e.src = i.id
             |  LEFT JOIN l${r - 1} l ON l.id = e.dst
             |  GROUP BY i.id, i.label)""".stripMargin
        }.mkString(",\n")
        s"""WITH ids AS (SELECT doc_id AS id FROM documents),
           |e0 AS (
           |  SELECT doc_id AS src, doc_id + 1 AS dst FROM documents
           |  WHERE doc_id % 10 < 3),
           |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
           |l0 AS (SELECT id, id AS label FROM ids),
           |$rounds
           |SELECT id AS doc_id, label AS group_id, id = label AS keep
           |FROM l4 ORDER BY doc_id""".stripMargin
      }),

    // ClusterRegistry: PERSISTENT incremental cluster identity — the
    // at-rest registry over the x105 component kernel. Deterministic
    // edges (id ↔ id−1 when id % 5 ≠ 0) give 5-id chains of diameter
    // 4; the registry is BUILT from the two-thirds subgraph (ids with
    // id % 3 ≠ 2, edges internal to them — chains fragment into 1-2
    // node clusters), then ONE marked ingest of the remaining third
    // bridges the fragments back together (every chain needs alias
    // merges and label takeovers: the batch ids 2, 5, 8 … include
    // chain minima, so existing clusters get RE-labeled through
    // aliases), plus a replayed ingest that must be a no-op. The
    // oracle computes from-scratch min-label components of the FULL
    // edge set (5-round unroll ≥ diameter) — equality certifies
    // incremental-with-aliases ≡ from-scratch, id for id ---------------
    Probe("x133_cluster_registry",
      (s, d) => {
        val dir = IndexCache.clusterRegistry(s, d)
        ClusterRegistry.readLabels(s, dir).orderBy("doc_id")
      },
      Some {
        val rounds = (1 to 5).map { r =>
          s"""l$r AS (
             |  SELECT i.id,
             |    LEAST(i.label, COALESCE(MIN(l.label), i.label)) AS label
             |  FROM l${r - 1} i
             |  LEFT JOIN e ON e.src = i.id
             |  LEFT JOIN l${r - 1} l ON l.id = e.dst
             |  GROUP BY i.id, i.label)""".stripMargin
        }.mkString(",\n")
        s"""WITH ids AS (SELECT doc_id AS id FROM documents),
           |e0 AS (
           |  SELECT doc_id AS src, doc_id - 1 AS dst FROM documents
           |  WHERE doc_id % 5 <> 0 AND doc_id > 0),
           |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
           |l0 AS (SELECT id, id AS label FROM ids),
           |$rounds
           |SELECT id AS doc_id, label AS cluster_id
           |FROM l5 ORDER BY doc_id""".stripMargin
      }),

    // ClusterRegistry.keepers: the keeper-by-quality DECISION against
    // the persisted clusters (the nearDupKeepBest rule, but off the
    // registry instead of a one-shot component run) — per canonical
    // cluster, the highest-n_chars member, ties to the smallest id.
    // Runs against the SAME at-rest registry x133 built (shared cache
    // dir — build once, two certified readouts); the oracle replays
    // the from-scratch components and the argmax. One partial-
    // aggregable max(struct) per cluster, no window over doc rows on
    // the Spark side ----------------------------------------------------
    Probe("x135_registry_keepers",
      (s, d) => {
        val dir = IndexCache.clusterRegistry(s, d)
        ClusterRegistry.keepers(s, dir,
            Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
            qualityCol = "n_chars")
          .orderBy("cluster_id")
      },
      Some {
        val rounds = (1 to 5).map { r =>
          s"""l$r AS (
             |  SELECT i.id,
             |    LEAST(i.label, COALESCE(MIN(l.label), i.label)) AS label
             |  FROM l${r - 1} i
             |  LEFT JOIN e ON e.src = i.id
             |  LEFT JOIN l${r - 1} l ON l.id = e.dst
             |  GROUP BY i.id, i.label)""".stripMargin
        }.mkString(",\n")
        s"""WITH ids AS (SELECT doc_id AS id FROM documents),
           |e0 AS (
           |  SELECT doc_id AS src, doc_id - 1 AS dst FROM documents
           |  WHERE doc_id % 5 <> 0 AND doc_id > 0),
           |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
           |l0 AS (SELECT id, id AS label FROM ids),
           |$rounds,
           |j AS (
           |  SELECT l.label AS cluster_id, l.id AS doc_id,
           |    CAST(d.n_chars AS DOUBLE) AS q
           |  FROM l5 l JOIN documents d ON d.doc_id = l.id),
           |r AS (
           |  SELECT cluster_id, doc_id, q,
           |    row_number() OVER (PARTITION BY cluster_id
           |                       ORDER BY q DESC, doc_id) AS rn,
           |    COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
           |  FROM j)
           |SELECT cluster_id, doc_id AS keeper_id, q AS keeper_quality,
           |  n_members
           |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin
      }),

    // Registry FLAGSHIP: the x134 composition — REAL minhash/LSH pairs
    // (the certified x06/x32 machinery: one-pass signatures, band
    // buckets, candidate join, exact Jaccard ≥ 0.5) drive the
    // persistent registry end to end. Two-thirds of the corpus builds
    // the registry from its internal pairs; the remaining third
    // ingests ONCE with its cross pairs (batch vs the corpus signature
    // index — never corpus text) plus its internal pairs, then a
    // replayed ingest must no-op. Candidate completeness is
    // split-independent (band-bucket sharing is pairwise
    // deterministic), so the union of presented edges equals the
    // from-scratch pair set — the oracle re-derives ALL pairs from raw
    // text (md5 shingle hashes, the same 8 permutation constants,
    // band md5s, exact Jaccard) and runs the min-label unroll: the
    // measured organic dup graph is mutual cliques (max diameter 1 at
    // sf0.001/0.01/0.1 — tools-measured r14), so 4 rounds carry 4×
    // margin ------------------------------------------------------------
    Probe("x134_registry_flagship",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val w0 = docs.where(col("doc_id") % 3 =!= 2)
        val w1 = docs.where(col("doc_id") % 3 === 2)
        val tag = IndexCache.corpusTag("x134", d, docs, Seq("doc_id", "text"))
        val dir = IndexCache.built(s"x134_creg_$tag") { dir =>
          def internalPairs(part: org.apache.spark.sql.DataFrame) = {
            val sigs = Dedup.minhashSignaturesOnePass(part, n = 3, numPerm = 8)
            val cands = Dedup.lshCandidatePairs(
              Dedup.lshBuckets(sigs, bands = 4, rowsPer = 2))
            Dedup.ngramJaccardFromSets(Dedup.shingleHashSets(part, n = 3),
                cands)
              .where(round(col("jaccard"), 6) >= 0.5)
              .select("id_a", "id_b")
          }
          ClusterRegistry.write(
            Dedup.nearDupGroupsDF(internalPairs(w0), w0.select(col("doc_id")))
              .select(col("doc_id"), col("group_id")), dir, nBuckets = 16)
          val cross = Dedup.incrementalNearDups(w1,
              Dedup.minhashSignaturesOnePass(w0, n = 3, numPerm = 8),
              Dedup.shingleHashSets(w0, n = 3), n = 3,
              bands = 4, rowsPer = 2, threshold = 0.5)
            .select(col("new_id").as("id_a"), col("corpus_id").as("id_b"))
          val edges = cross.union(internalPairs(w1))
          ClusterRegistry.ingestBatch(w1.select(col("doc_id")), edges, dir,
            doneMarker = Some("b1"))
          ClusterRegistry.ingestBatch(w1.select(col("doc_id")), edges, dir,
            doneMarker = Some("b1")) // replay — gated no-op
        }
        ClusterRegistry.readLabels(s, dir).orderBy("doc_id")
      },
      Some {
        val P = Dedup.MinhashPrime
        val consts = Dedup.permutationConstants(8)
        val mins = consts.zipWithIndex.map { case ((a, b), i) =>
          s"MIN(($a * h + $b) % $P) AS m$i"
        }.mkString(", ")
        val bandHash = (0 until 4).map { bIdx =>
          val cols = (0 until 2).map(r => s"m${bIdx * 2 + r}").mkString(", ")
          s"SELECT $bIdx AS band_idx, md5(concat_ws('_', $cols)) AS band_hash, doc_id FROM sig"
        }.mkString(" UNION ALL ")
        val rounds = (1 to 4).map { r =>
          s"""l$r AS (
             |  SELECT i.id,
             |    LEAST(i.label, COALESCE(MIN(l.label), i.label)) AS label
             |  FROM l${r - 1} i
             |  LEFT JOIN e ON e.src = i.id
             |  LEFT JOIN l${r - 1} l ON l.id = e.dst
             |  GROUP BY i.id, i.label)""".stripMargin
        }.mkString(",\n")
        s"""WITH sh AS (
           |  SELECT DISTINCT doc_id,
           |    array_to_string(words[g.i:g.i + 2], ' ') AS shingle
           |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
           |        FROM documents) w,
           |    (SELECT unnest(generate_series(1, 10000)) AS i) g
           |  WHERE g.i <= greatest(1, len(words) - 2)),
           |hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h FROM sh),
           |sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
           |buckets AS ($bandHash),
           |cands AS (
           |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
           |  FROM buckets l JOIN buckets r
           |    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
           |  WHERE l.doc_id < r.doc_id),
           |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
           |inter AS (
           |  SELECT c.a, c.b, COUNT(*) AS n_inter
           |  FROM cands c
           |  JOIN sh x ON x.doc_id = c.a
           |  JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
           |  GROUP BY 1, 2),
           |pairs AS (
           |  SELECT c.a, c.b FROM cands c
           |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
           |  JOIN sizes sa ON sa.doc_id = c.a
           |  JOIN sizes sb ON sb.doc_id = c.b
           |  WHERE ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
           |              (sa.n + sb.n - COALESCE(i.n_inter, 0)), 6) >= 0.5),
           |e AS (SELECT a AS src, b AS dst FROM pairs
           |      UNION ALL SELECT b, a FROM pairs),
           |ids AS (SELECT doc_id AS id FROM documents),
           |l0 AS (SELECT id, id AS label FROM ids),
           |$rounds
           |SELECT id AS doc_id, label AS cluster_id
           |FROM l4 ORDER BY doc_id""".stripMargin
      }),

    // Dedup.nearDupKeepBest: keeper-by-QUALITY resolution (the
    // NeMo-Curator fuzzy-dedup rule) composed on the x105 components —
    // same deterministic 4-node paths, quality = n_chars, so the
    // keeper is usually NOT the min id and the argmax genuinely
    // decides. Oracle = the x105 four-round min-label unroll (same
    // fixpoint argument) + a per-component ROW_NUMBER argmax with the
    // pinned (quality DESC, id ASC) tie order; the Spark side reaches
    // the identical keeper through a partial-aggregable
    // max(struct(q, -id)) — no window, no per-group sort ------------
    Probe("x108_neardup_keep_best",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
        val pairs = docs.where(col("doc_id") % 10 < 3)
          .select(col("doc_id").as("id_a"),
            (col("doc_id") + 1).as("id_b"))
        Dedup.nearDupKeepBest(pairs, docs, "n_chars").orderBy("doc_id")
      },
      Some {
        val rounds = (1 to 4).map { r =>
          s"""l$r AS (
             |  SELECT i.id,
             |    LEAST(i.label, COALESCE(MIN(l.label), i.label)) AS label
             |  FROM l${r - 1} i
             |  LEFT JOIN e ON e.src = i.id
             |  LEFT JOIN l${r - 1} l ON l.id = e.dst
             |  GROUP BY i.id, i.label)""".stripMargin
        }.mkString(",\n")
        s"""WITH ids AS (SELECT doc_id AS id FROM documents),
           |e0 AS (
           |  SELECT doc_id AS src, doc_id + 1 AS dst FROM documents
           |  WHERE doc_id % 10 < 3),
           |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
           |l0 AS (SELECT id, id AS label FROM ids),
           |$rounds,
           |j AS (
           |  SELECT l4.id, l4.label AS group_id,
           |    CAST(d.n_chars AS DOUBLE) AS q
           |  FROM l4 JOIN documents d ON d.doc_id = l4.id),
           |k AS (
           |  SELECT group_id, id AS keeper_id FROM (
           |    SELECT group_id, id,
           |      ROW_NUMBER() OVER (PARTITION BY group_id
           |                         ORDER BY q DESC, id) AS rn
           |    FROM j) WHERE rn = 1)
           |SELECT j.id AS doc_id, j.group_id,
           |  j.id = k.keeper_id AS keep, k.keeper_id
           |FROM j JOIN k USING (group_id) ORDER BY doc_id""".stripMargin
      }),

    // A6 via Triggers.exceedanceTable: full threshold table in one agg
    Probe("t01_exceedance_table",
      (s, d) => {
        val perMember = Tables.orders(s, d)
          .groupBy(col("o_custkey").as("ens_id"))
          .agg(sum("o_totalprice").as("total"))
        Triggers.exceedanceTable(perMember, "total", Triggers.DrefProbabilities)
          .select(col("threshold_label"), col("threshold"), col("prob_threshold"),
            round(col("predicted_probability"), 6).as("predicted_probability"),
            col("triggered"))
          .orderBy("threshold_label")
      },
      Some("""WITH pm AS (SELECT o_custkey, SUM(o_totalprice) AS total FROM orders GROUP BY 1),
             |thr(threshold_label, threshold, prob_threshold) AS (VALUES
             |  ('80k', 80000.0e0, 0.5e0), ('50k', 50000.0e0, 0.6e0),
             |  ('10k', 10000.0e0, 0.8e0), ('5k', 5000.0e0, 0.95e0)),
             |agg AS (
             |  SELECT threshold_label, threshold, prob_threshold,
             |    AVG(CASE WHEN total > threshold THEN 1.0e0 ELSE 0.0e0 END) AS p
             |  FROM pm CROSS JOIN thr GROUP BY 1, 2, 3)
             |SELECT threshold_label, threshold, prob_threshold,
             |  ROUND(p, 6) AS predicted_probability, p > prob_threshold AS triggered
             |FROM agg ORDER BY threshold_label""".stripMargin)),

    // W6 via Triggers.dedupKeepMax with deterministic tie-break --------
    Probe("t02_dedup_keepmax_module",
      (s, d) => {
        val impact = Tables.orders(s, d).select(
          col("o_custkey").cast("string").as("Mun_Code"),
          (col("o_orderkey") % 5).cast("int").as("ens_id"),
          col("o_totalprice").as("damage_pct"),
          col("o_orderkey"))
        Triggers.dedupKeepMax(impact, tieBreak = Seq("o_orderkey"))
          .select("Mun_Code", "ens_id", "damage_pct", "o_orderkey")
          .orderBy("Mun_Code", "ens_id")
      },
      Some("""SELECT Mun_Code, ens_id, damage_pct, o_orderkey FROM (
             |  SELECT CAST(o_custkey AS VARCHAR) AS Mun_Code,
             |    CAST(o_orderkey % 5 AS INT) AS ens_id,
             |    o_totalprice AS damage_pct, o_orderkey,
             |    ROW_NUMBER() OVER (PARTITION BY CAST(o_custkey AS VARCHAR), o_orderkey % 5
             |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) WHERE rn = 1 ORDER BY Mun_Code, ens_id""".stripMargin)),

    // A7 via SpatialJoin.zonalMean: join + grouped mean ----------------
    Probe("t03_zonal_mean",
      (s, d) => {
        val ev = Tables.events(s, d)
        val raster = ev.select(
          (col("event_id") % 100).as("centroid_id"),
          (col("user_id") % 4).as("step"),
          col("value"))
        val map = ev.select(
          (col("event_id") % 100).as("centroid_id"),
          ((col("event_id") % 100) % 7).cast("string").as("admin_code")).distinct()
        SpatialJoin.zonalMean(raster, map, Seq("step"))
          .select(col("admin_code"), col("step"), round(col("zonal_mean"), 6).as("zonal_mean"))
          .orderBy("admin_code", "step")
      },
      Some("""WITH raster AS (
             |  SELECT event_id % 100 AS centroid_id, user_id % 4 AS step, value FROM events),
             |map AS (
             |  SELECT DISTINCT event_id % 100 AS centroid_id,
             |    CAST((event_id % 100) % 7 AS VARCHAR) AS admin_code FROM events)
             |SELECT admin_code, step, ROUND(AVG(value), 6) AS zonal_mean
             |FROM raster JOIN map USING (centroid_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Manifest.writeManifest/appendToManifest/diff: the at-rest
    // dataset-version manifest and the version DIFF served off two
    // manifests — version B is a deterministic edit of the corpus
    // (every 97th doc removed, every 31st edited, every 113th
    // re-added under a new id), both manifests built with the
    // build + marker-gated-append (+ replay) schedule, and the diff
    // reads ONLY the persisted (id, ck) pairs. The oracle re-derives
    // both versions' content keys from raw text and replays the
    // pair-set status rules — one mis-keyed or double-counted pair
    // flips a status and diverges the hash ---------------------------
    Probe("x141_manifest_diff",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .where(col("text").isNotNull).select("doc_id", "text")
        val tag = IndexCache.corpusTag("x141", d, docs, Seq("doc_id"))
        val aDir = IndexCache.built(s"x141_ma_$tag") { aDir =>
          Manifest.writeManifest(docs.where(col("doc_id") % 2 === 0), aDir)
          Manifest.appendToManifest(docs.where(col("doc_id") % 2 === 1),
            aDir, Some("b1"))
          Manifest.appendToManifest(docs.where(col("doc_id") % 2 === 1),
            aDir, Some("b1")) // replay — gated no-op
        }
        val bDir = IndexCache.built(s"x141_mb_$tag") { bDir =>
          val kept = docs.where(col("doc_id") % 97 =!= 0)
            .withColumn("text", when(col("doc_id") % 31 === 0,
              concat(col("text"), lit("_v2"))).otherwise(col("text")))
          val added = docs.where(col("doc_id") % 113 === 0)
            .withColumn("doc_id", col("doc_id") + 10000000L)
          val vB = kept.unionAll(added)
          Manifest.writeManifest(vB.where(col("doc_id") % 2 === 0), bDir)
          Manifest.appendToManifest(vB.where(col("doc_id") % 2 === 1),
            bDir, Some("b1"))
        }
        Manifest.diff(s, aDir, bDir).orderBy("doc_id")
      },
      Some("""WITH a AS (
             |  SELECT doc_id,
             |    CAST(('0x' || substring(md5('manifest_' || text), 1, 15))
             |      AS BIGINT) AS ck
             |  FROM documents WHERE text IS NOT NULL),
             |bsrc AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 31 = 0 THEN text || '_v2' ELSE text END
             |      AS text
             |  FROM documents WHERE text IS NOT NULL AND doc_id % 97 <> 0
             |  UNION ALL
             |  SELECT doc_id + 10000000, text FROM documents
             |  WHERE text IS NOT NULL AND doc_id % 113 = 0),
             |b AS (
             |  SELECT doc_id,
             |    CAST(('0x' || substring(md5('manifest_' || text), 1, 15))
             |      AS BIGINT) AS ck
             |  FROM bsrc),
             |p AS (
             |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             |    a.ck IS NOT NULL AS in_a, b.ck IS NOT NULL AS in_b
             |  FROM a FULL OUTER JOIN b
             |    ON a.doc_id = b.doc_id AND a.ck = b.ck),
             |s AS (
             |  SELECT doc_id, BOOL_OR(in_a) AS has_a, BOOL_OR(in_b) AS has_b,
             |    BOOL_OR(in_a <> in_b) AS unshared
             |  FROM p GROUP BY 1)
             |SELECT doc_id,
             |  CASE WHEN NOT has_a THEN 'added'
             |       WHEN NOT has_b THEN 'removed'
             |       WHEN unshared THEN 'changed'
             |       ELSE 'unchanged' END AS status
             |FROM s
             |WHERE NOT (has_a AND has_b AND NOT unshared)
             |ORDER BY doc_id""".stripMargin)),

    // The SEMANTIC registry flagship — incremental embedding-space
    // dedup with durable identity (the x134 lexical flagship's exact
    // shape with MinHash/LSH swapped for the at-rest int8 IVF index):
    // two-thirds of the vectors build the index and the registry from
    // their within-cell integer-cosine pairs; the last third ingests
    // ONCE with pairs from Similarity.cosinePairsInt8FromIndex —
    // batch×PERSISTED codes (partition-pruned to touched cells) plus
    // batch-internal — and a replayed ingest must no-op. Candidate
    // split-independence holds because a vector's cell is a function
    // of itself and the persisted centroids alone, so build ∪ ingest
    // pairs = ALL within-cell pairs of the full corpus. The measured
    // pair graph carries genuine CHAINS (12 min-label rounds to
    // fixpoint at sf0.001 — tools-measured r15), so the oracle runs a
    // RECURSIVE transitive closure instead of a fixed unroll; the
    // registry side needs no such care (hop+jump is log-round to any
    // diameter, the x133 contract). Integer cosines compare at a RAW
    // threshold — exact long dots, one IEEE divide, no rounding ------
    Probe("x142_semantic_registry_flagship",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val w0 = embs.where(col("vec_id") % 3 =!= 2)
        val w1 = embs.where(col("vec_id") % 3 === 2)
        val tag = IndexCache.corpusTag("x142", d, embs,
          Seq("vec_id", "embedding"))
        // nlist derives from corpus size (the r12 lesson: a FIXED
        // nlist makes the 100x honesty runs quadratic by construction
        // — cell size grows with N and the within-cell join with
        // cell²); 8 at both certified gate scales, so oracle hashes
        // stand, and the SQL derives the SAME value
        val nlist = IndexCache.probeNlist(d, embs)
        // the build-time int8 index lives inside the registry's estate
        // (the registry reads only its own labels/aliases/meta dirs)
        val regDir = IndexCache.built(s"x142_reg_${nlist}_$tag") { regDir =>
          val ixDir = s"$regDir/ix"
          Similarity.writeInt8Index(w0, ixDir, nlist = nlist)
          // build batch = build corpus → cross ≡ internal, dedup'd
          val internal0 = Similarity.cosinePairsInt8FromIndex(
            w0, ixDir, minCos = 0.25)
          ClusterRegistry.write(
            Dedup.nearDupGroupsDF(internal0, w0.select(col("vec_id")),
                idCol = "vec_id")
              .select(col("vec_id"), col("group_id")),
            regDir, idCol = "vec_id", nBuckets = 16)
          val edges = Similarity.cosinePairsInt8FromIndex(
            w1, ixDir, minCos = 0.25)
          ClusterRegistry.ingestBatch(w1.select(col("vec_id")), edges,
            regDir, doneMarker = Some("b1"))
          ClusterRegistry.ingestBatch(w1.select(col("vec_id")), edges,
            regDir, doneMarker = Some("b1")) // replay — gated no-op
        }
        ClusterRegistry.readLabels(s, regDir).orderBy("vec_id")
      },
      Some("""WITH RECURSIVE init AS (
             |  SELECT vec_id, embedding,
             |    CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 6) AS BIGINT)
             |      % (SELECT GREATEST(8, COUNT(*) // 256) FROM embeddings) AS cell0
             |  FROM embeddings WHERE vec_id % 3 <> 2),
             |idims AS (
             |  SELECT cell0, j, x FROM init,
             |    LATERAL (SELECT unnest(embedding) AS x,
             |             generate_subscripts(embedding, 1) AS j)),
             |cent AS (
             |  SELECT cell0 AS cell, list(cx ORDER BY j) AS c FROM (
             |    SELECT cell0, j, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS cx
             |    FROM idims GROUP BY cell0, j)
             |  GROUP BY cell0),
             |assigned AS (
             |  SELECT vec_id, cell FROM (
             |    SELECT i.vec_id, c.cell,
             |      ROW_NUMBER() OVER (PARTITION BY i.vec_id ORDER BY
             |        ROUND(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])
             |          - 2 * list_dot_product(i.embedding::DOUBLE[], c.c)
             |          + list_dot_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
             |    FROM embeddings i CROSS JOIN cent c) WHERE rn = 1),
             |qz AS (
             |  SELECT vec_id,
             |    GREATEST(list_max(list_transform(embedding,
             |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS s,
             |    embedding
             |  FROM embeddings),
             |codes AS (
             |  SELECT vec_id,
             |    list_transform(embedding,
             |      x -> floor(CAST(x AS DOUBLE) / s + 0.5)) AS codes
             |  FROM qz),
             |pairs AS (
             |  SELECT x.vec_id AS a, y.vec_id AS b
             |  FROM codes x JOIN assigned ax ON ax.vec_id = x.vec_id
             |  JOIN assigned ay ON ay.cell = ax.cell
             |  JOIN codes y ON y.vec_id = ay.vec_id AND x.vec_id < y.vec_id
             |  WHERE list_dot_product(x.codes, y.codes) /
             |    (sqrt(list_dot_product(x.codes, x.codes)) *
             |     sqrt(list_dot_product(y.codes, y.codes))) >= 0.25),
             |e AS (SELECT a AS src, b AS dst FROM pairs
             |      UNION ALL SELECT b, a FROM pairs),
             |r(id, lab) AS (
             |  SELECT vec_id, vec_id FROM embeddings
             |  UNION
             |  SELECT e.src, r.lab FROM e JOIN r ON r.id = e.dst)
             |SELECT id AS vec_id, MIN(lab) AS cluster_id
             |FROM r GROUP BY id
             |ORDER BY vec_id""".stripMargin)),
  )
}
