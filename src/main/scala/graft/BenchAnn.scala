package graft

import org.apache.spark.sql.functions._

import graft.Bench.timed
import graft.operators.{PqIndex, Similarity}

/** ANN-at-volume benchmark: 200k deterministic 64-dim vectors through
  * the at-rest IVF-PQ path — one-off index build+write (partitioned by
  * IVF cell), then query latency against the persisted index vs the
  * brute-force scan, plus recall@10. This is the evidence for the
  * "persist once, query many" contract: the per-query cost is a
  * partition-pruned codes read + fused ADC + shortlist rerank,
  * independent of the one-off build.
  *
  * Vectors are md5-derived (engine-portable, no RNG) and CLUSTERED —
  * 64 hash-derived centers plus per-vector noise — because clustered
  * is what real embedding spaces are and what IVF's cell pruning
  * exploits; every 100th vector is additionally a planted near-copy
  * of its predecessor so the corpus has exact near-duplicates too.
  */
object BenchAnn {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toInt).getOrElse(200000)
    val nprobe = if (args.length > 1) args(1).toInt else 4
    val shortlist = if (args.length > 2) args(2).toInt else 200
    val (dim, nlist, m, ksub) = (64, 64, 16, 16)
    val spark = Engine.local(Engine.envCores)

    // deterministic HIERARCHICAL corpus — the structure real embedding
    // spaces have and flat uniform noise does not (uniform noise in 64
    // dims concentrates all pairwise distances, making "nearest"
    // meaningless): vector = coarse center (seed % 64) + 0.3 × one of
    // 50 subcenters + 0.03 × noise, so a vector's true neighbors are
    // its ~60 subcluster mates, distinctly closer than anything else.
    // vec i with i%100==1 copies vec i-1 with a +0.001 offset on every
    // dimension (a genuine near-duplicate).
    def h(prefix: String, seedCol: org.apache.spark.sql.Column,
          j: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit(prefix), seedCol.cast("string"), lit("_"),
        j.cast("string"))), 1, 6), 16, 10).cast("double")
    val embs = spark.range(nVecs)
      .withColumn("seed", when(col("id") % 100 === 1, col("id") - 1).otherwise(col("id")))
      .withColumn("sub", col("seed") % lit(64 * 50))
      .withColumn("embedding", transform(sequence(lit(0), lit(dim - 1)),
        j => ((h("c", col("seed") % 64, j) % 1000.0) / 1000.0 +
          (h("s", col("sub"), j) % 1000.0) / 1000.0 * 0.3 +
          (h("n", col("seed"), j) % 1000.0) / 1000.0 * 0.03 +
          when(col("id") % 100 === 1, 0.001).otherwise(0.0)).cast("float")))
      .select(col("id").as("vec_id"), col("embedding"))
      .cache()
    val n = embs.count()

    val (exact, tBrute) = timed {
      Similarity.cosineTopK(embs, queryId = 100, k = 10)
        .collect().map(_.getLong(0)).toSeq
    }
    require(exact.head == 101L, s"planted near-copy not top-1: $exact")

    // IndexCache (r9): value-sensitive fingerprint + completion marker
    // — a formula change at the same nVecs must not reuse a stale
    // index, and a crash between the codes/centroids/codebook writes
    // must not leave a half-index that later runs trust
    val tag = graft.operators.IndexCache.corpusTag("benchann",
      s"mem_$nVecs", embs, Seq("vec_id", "embedding"))
    // arg 4 picks the coarse quantizer: "hash" (default) = the
    // deterministic SQL-mirrorable hash-init + one-Lloyd-step build
    // the certified probes use; "kmeans" = the production
    // writeIndexKMeans path (trained MLlib cells) — same on-disk
    // layout, same reader. Running both at the same nVecs/nprobe
    // measures what the trained quantizer buys in recall-per-probe.
    val quantizer = if (args.length > 3) args(3) else "hash"
    val (dir, tBuild) = timed {
      graft.operators.IndexCache.built(s"bench_ann_${quantizer}_$tag") { dir =>
        if (quantizer == "kmeans")
          PqIndex.writeIndexKMeans(embs, dir, nlist = nlist, m = m,
            ksub = ksub, dim = dim)
        else
          PqIndex.writeIndex(embs, dir, nlist = nlist, m = m, ksub = ksub, dim = dim)
      }
    }

    val q = embs.where(col("vec_id") === 100)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    // first from-disk query (cold listing), then the steady-state rerun
    val (approx, tQueryCold) = timed {
      PqIndex.topKFromIndex(spark, dir, q, k = 10, nprobe = nprobe,
        shortlist = shortlist, excludeId = Some(100L))
        .collect().map(_.getLong(0)).toSeq
    }
    val (_, tQueryWarm) = timed {
      PqIndex.topKFromIndex(spark, dir, q, k = 10, nprobe = nprobe,
        shortlist = shortlist, excludeId = Some(100L)).collect()
    }
    val recall = approx.toSet.intersect(exact.toSet).size / 10.0
    require(approx.head == 101L, s"index query missed the planted near-copy: $approx")

    // batch k-NN join (r10, annJoinFromIndex): every planted-near-copy
    // vector (id%100==1, capped at 2048 queries) asks the SAME at-rest
    // index for its top-10 in ONE plan. Each query's true top-1 is its
    // source vector (id-1, a +0.001 offset away), so top-1 recall is
    // by-construction checkable at any nVecs. The point of the record:
    // per-query wall through the join vs the single-query path — the
    // scheduler floor amortizes across the batch.
    val queries = embs
      .where(col("vec_id") % 100 === 1 && col("vec_id") < 2048L * 100)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val (joinRows, tJoin) = timed {
      PqIndex.annJoinFromIndex(queries, dir, k = 10, nprobe = nprobe,
        shortlist = shortlist).collect()
    }
    val nQ = joinRows.iterator.map(_.getLong(0)).toSet.size
    val top1Hits = joinRows.count(r =>
      r.getInt(3) == 1 && r.getLong(1) == r.getLong(0) - 1)
    val joinTop1 = top1Hits.toDouble / nQ
    require(joinTop1 >= 0.99,
      s"batch join lost planted near-copies: $top1Hits/$nQ")

    // FULL k-means at volume (r9, IvfIndex.lloydIterate): per-round
    // cost is corpus × nlist argmin rows + a bounded centroid agg, so
    // the wall is rounds-linear and row-linear — the evidence that the
    // trajectory-certified x101 operator carries to real corpora.
    // Inertia must descend (Lloyd's guarantee) on the clustered space.
    import graft.operators.IvfIndex
    def inertia(rounds: Int): (Double, Long, Double) = {
      // lloydIterate is PARTLY eager (each round's bounded centroid
      // table localCheckpoints, which runs that round's corpus pass),
      // and the final assign + this inertia aggregation are lazy — so
      // BOTH lloydIterate and the aggregation must sit inside the
      // timed block for the wall to cover all rounds
      val ((i, cents), t) = timed {
        val (c, assigned) = IvfIndex.lloydIterate(embs, nlist, rounds)
        (assigned.join(broadcast(c), Seq("cell"))
          .agg(sum(IvfIndex.sqDist(col("embedding"), col("centroid"))))
          .head().getDouble(0), c)
      }
      (i, cents.count(), t)
    }
    val (i1, k1, tK1) = inertia(1)
    val (i3, k3, tK3) = inertia(3)

    // codes bytes at rest vs raw vectors: the compression PQ exists for
    val rawBytes = n * dim * 4L
    val codeInts = n * m.toLong
    println(s"""{"metric":"ann_scale","vectors":$n,"dim":$dim,""" +
      s""""brute_force_sec":${f"$tBrute%.2f"},""" +
      s""""index_build_write_sec":${f"$tBuild%.2f"},""" +
      s""""query_cold_sec":${f"$tQueryCold%.2f"},""" +
      s""""query_warm_sec":${f"$tQueryWarm%.2f"},""" +
      s""""join_queries":$nQ,"join_sec":${f"$tJoin%.2f"},""" +
      s""""join_per_query_ms":${f"${tJoin * 1000 / math.max(1, nQ)}%.1f"},""" +
      s""""join_top1_recall":${f"$joinTop1%.3f"},""" +
      s""""recall_at_10":$recall,"quantizer":"$quantizer",""" +
      s""""nlist":$nlist,"nprobe":$nprobe,""" +
      s""""shortlist":$shortlist,"m":$m,""" +
      s""""raw_mb":${rawBytes / 1048576},"code_values":$codeInts,""" +
      s""""kmeans_r1_sec":${f"$tK1%.2f"},"kmeans_r3_sec":${f"$tK3%.2f"},""" +
      s""""kmeans_inertia_r1":${f"$i1%.1f"},"kmeans_inertia_r3":${f"$i3%.1f"},""" +
      s""""kmeans_cells_r1":$k1,"kmeans_cells_r3":$k3}""")
    require(i3 <= i1 + 1e-3, s"Lloyd inertia rose: $i1 -> $i3")
    spark.stop()
  }
}
