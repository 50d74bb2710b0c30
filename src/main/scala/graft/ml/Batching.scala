package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-batch construction for contrastive multimodal learning
  * (the CLIP/ALIGN data-prep step over an image+caption pair table —
  * the north-star table shape). */
object Batching {

  /** CLIP-style contrastive batch construction. Three rules, each of
    * which exists for a training-correctness reason:
    *
    *  1. CONTENT DEDUP (min-id keeper per `keyCol`, e.g. md5(bytes) or
    *     phash): two copies of the same image inside one batch would be
    *     FALSE in-batch negatives — the loss would push identical
    *     content apart. One window shuffle on the content key.
    *  2. DETERMINISTIC SHUFFLE (order by md5(id)): batches must be
    *     well-mixed but reproducible run-to-run — md5 of the id is a
    *     stable pseudo-random permutation, no RNG state.
    *  3. GLOBAL POSITION via a DISTRIBUTED index: the shuffled stream
    *     is range-partitioned by the md5 key and indexed with
    *     zipWithIndex (one per-partition count pass + per-partition
    *     offsets — the same two-pass prefix shape as
    *     TextOps.packContiguous, NEVER a single-partition global
    *     window). batch = idx / B, position-in-batch = idx % B.
    *
    * Returns (idCol, batch_id, pos). The tail batch may be short. */
  def contrastiveBatches(pairs: DataFrame, idCol: String, keyCol: String,
      batchSize: Int): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val spark = pairs.sparkSession
    import spark.implicits._
    val keep = Window.partitionBy(col(keyCol)).orderBy(col(idCol))
    val deduped = pairs
      .withColumn("__r", row_number().over(keep))
      .filter(col("__r") === 1)
      .select(col(idCol).as("id"), md5(col(idCol).cast("string")).as("k"))
    val indexed = globalIndex(deduped)
      .map { case (id, idx) => (id, idx / batchSize, idx % batchSize) }
    spark.createDataset(indexed).toDF(idCol, "batch_id", "pos")
  }

  /** LENGTH-BUCKETED batch construction — the group-by-length trainer
    * op (fairseq/HF `group_by_length`): sequences sort by (length, id)
    * and fill fixed-size batches in that order, so each batch holds
    * near-equal lengths and the padding to the batch max is minimal
    * (random batching pads every sequence to the batch's longest —
    * at 100 TB that is a double-digit percentage of wasted FLOPs).
    * Deterministic: the sort key is total-ordered by the id tiebreak.
    * Scale shape: the order comes from [[globalIndex]]'s range
    * partition + zipWithIndex (never a single-partition window); the
    * per-batch rollup is one map-side-combined groupBy on batch_id.
    * Returns (batch_id, n_docs, max_len, sum_len, pad_waste) where
    * pad_waste = n_docs * max_len - sum_len, the padding tokens a
    * max-len-padded batch would carry. The tail batch may be short. */
  def lengthBuckets(docs: DataFrame, idCol: String, lenCol: String,
      batchSize: Int): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val spark = docs.sparkSession
    import spark.implicits._
    // fixed-width zero-pad makes the STRING sort of (len, id) equal the
    // numeric sort (globalIndex's key column is a string); 12 digits
    // cover any realistic token count / id and overflow fails loudly
    def padded(c: String) = {
      val s = col(c).cast("long")
      when(s < 0 || s >= 1000000000000L,
        raise_error(concat(lit(s"lengthBuckets: $c out of [0, 1e12): "),
          s.cast("string"))))
        .otherwise(lpad(s.cast("string"), 12, "0"))
    }
    val keyed = docs.select(col(idCol).cast("string").as("id"),
      concat(padded(lenCol), lit("|"), padded(idCol)).as("k"))
    val indexed = globalIndex(keyed)
      .map { case (id, idx) => (id, idx / batchSize) }
    val batches = spark.createDataset(indexed).toDF("__id", "batch_id")
    docs.join(batches, col(idCol).cast("string") === col("__id"))
      .groupBy($"batch_id")
      .agg(count(lit(1)).as("n_docs"),
        max(col(lenCol).cast("long")).as("max_len"),
        sum(col(lenCol).cast("long")).as("sum_len"))
      .withColumn("pad_waste", $"n_docs" * $"max_len" - $"sum_len")
  }

  /** Deterministic global index of (id, k) rows in (k, id) order:
    * range partition + partition-local sort + zipWithIndex (one count
    * pass for per-partition offsets) — the distributed row-number. */
  private def globalIndex(rows: DataFrame) = {
    import rows.sparkSession.implicits._
    rows.repartitionByRange(col("k"))
      .sortWithinPartitions(col("k"), col("id"))
      .as[(String, String)]
      .rdd.zipWithIndex()
      .map { case ((id, _), idx) => (id, idx) }
  }

  /** Modality MIXTURE INTERLEAVING — the data-mixing op of multimodal
    * pretraining: each source stream (text/image/audio/video, each with
    * an integer quota per period) is independently md5-shuffled and
    * globally indexed (distributed, per source), then woven into one
    * deterministic training order: period p carries quota(m) items of
    * each modality m in declaration order, so every period realizes the
    * exact target mixture ratio. The stream truncates at the last
    * COMPLETE period (min over modalities of n_m / quota_m) — a partial
    * period would silently skew the ratio. Only per-source counts reach
    * the driver. Returns (modality, idCol, global_pos). */
  def mixtureInterleave(sources: Seq[(String, DataFrame, Int)],
      idCol: String): DataFrame = {
    require(sources.nonEmpty, "mixtureInterleave: no sources")
    require(sources.forall(_._3 > 0), "mixtureInterleave: quotas must be > 0")
    val spark = sources.head._2.sparkSession
    import spark.implicits._
    val period = sources.map(_._3).sum
    val offsets = sources.map(_._3).scanLeft(0)(_ + _)
    val indexed = sources.map { case (mod, df, quota) =>
      val rows = df.select(col(idCol).as("id"),
        md5(col(idCol).cast("string")).as("k"))
      // a lineage cut: the count below fills it and the returned plan
      // reads it; the ContextCleaner releases its blocks with the result
      (mod, quota, globalIndex(rows).localCheckpoint())
    }
    val periods = indexed.map { case (_, quota, rdd) =>
      rdd.count() / quota
    }.min
    val out = indexed.zipWithIndex.map { case ((mod, quota, rdd), mi) =>
      val off = offsets(mi)
      spark.createDataset(
        rdd.filter(_._2 < periods * quota).map { case (id, idx) =>
          (mod, id, (idx / quota) * period + off + idx % quota)
        })
    }.reduce(_ union _)
    out.toDF("modality", idCol, "global_pos")
  }

  /** CURRICULUM ordering — easy-to-hard training order: documents are
    * sorted by an integer difficulty TIER (ascending: tier 0 trains
    * first), md5-shuffled WITHIN each tier (well-mixed but reproducible,
    * same rule as [[contrastiveBatches]]), and assigned a global
    * position via the distributed range-partition + zipWithIndex pass —
    * never a single-partition window. The composite sort key is
    * `zeropad(tier) | md5(id)`, so the range partitioner both orders the
    * tiers and balances within them. Returns (idCol, tier, global_pos).
    * Tiers must be non-null in [0, 10^10) — the key pads to 10 digits;
    * anything else raises on the executor rather than misorder. */
  def curriculumOrder(docs: DataFrame, idCol: String,
      tierCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // a NULL tier would build a NULL key (range-sorts first), a negative
    // tier would lpad to "00000000-5", and a tier past 10^10 would be
    // TRUNCATED by lpad — all silent misorderings; fail loudly instead
    val t = col(tierCol).cast("long")
    val tierChecked = when(t.isNull || t < 0 || t >= 10000000000L,
      raise_error(concat(lit("curriculumOrder: tier must be in [0, 1e10) "),
        lit("but was "), coalesce(t.cast("string"), lit("NULL")),
        lit(" for id "), col(idCol).cast("string"))))
      .otherwise(t)
    val keyed = docs.select(
      col(idCol).cast("string").as("id"),
      tierChecked.as("tier"),
      concat(lpad(tierChecked.cast("string"), 10, "0"), lit("|"),
        md5(col(idCol).cast("string"))).as("k"))
    val indexed = keyed
      .repartitionByRange(col("k"))
      .sortWithinPartitions(col("k"), col("id"))
      .as[(String, Long, String)]
      .rdd.zipWithIndex()
      .map { case ((id, tier, _), idx) => (id, tier, idx) }
    spark.createDataset(indexed).toDF(idCol, "tier", "global_pos")
  }

  /** EPOCH RESHUFFLING — multi-epoch training order without RNG state:
    * every epoch sees the full corpus in a DIFFERENT but reproducible
    * permutation (shuffle key = md5(epoch ":" id) — salting the hash by
    * the epoch re-randomizes the order; a fixed per-row key would repeat
    * epoch 0's order forever, correlating batch composition across
    * epochs). Positions are GLOBAL across the run: epoch e occupies the
    * contiguous block [e*n, (e+1)*n) because the composite range key
    * leads with the zero-padded epoch. One range exchange of (id, epoch)
    * descriptors covers all epochs. Returns (idCol, epoch, global_pos). */
  def epochOrder(docs: DataFrame, idCol: String, epochs: Int): DataFrame = {
    require(epochs > 0, s"epochOrder: epochs must be positive, got $epochs")
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs.select(col(idCol).cast("string").as("id"))
      .crossJoin(spark.range(epochs).toDF("epoch"))
      .select($"id", $"epoch",
        concat(lpad($"epoch".cast("string"), 10, "0"), lit("|"),
          md5(concat($"epoch".cast("string"), lit(":"), $"id"))).as("k"))
    val indexed = keyed
      .repartitionByRange($"k")
      .sortWithinPartitions($"k", $"id")
      .as[(String, Long, String)]
      .rdd.zipWithIndex()
      .map { case ((id, e, _), idx) => (id, e, idx) }
    spark.createDataset(indexed).toDF(idCol, "epoch", "global_pos")
  }
}
