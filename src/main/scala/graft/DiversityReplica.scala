package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity-DIVERSITY k-fold replica + recall re-measurement (round-13
  * verdict item 3).
  *
  * Clone replicas scale the VOLUME axis only: every copied row is the
  * same entity under a new id, so the champion-tier recall instruments
  * measured there (SCALE.md §champion-recall, vs-uncut 0.405) are
  * anchored on clone geometry — the round-12 verdict's standing
  * epistemic caveat. This builder scales the DIVERSITY axis too: replica
  * 0 is the source verbatim; every replica >= 1 row is a NEW entity
  * synthesized from the source's own token vocabulary by keyed hashing
  * (xxhash64 — no RNG, so the replica is bit-reproducible):
  *
  *  - part names: 2-3 tokens drawn from the real 16-token pool in hashed
  *    order, ~1/4 of them with a deterministic single-char drop (the
  *    typo texture the fuzzy pipeline exists for). The 64-name source
  *    space grows to thousands of distinct clean_values, so posting
  *    lists grow by NEW GRAMS and varied df — not by cloning one df up.
  *  - document texts: re-drawn token-by-token from the real 31-token
  *    pool at the source row's length, so winnow/minhash fingerprints
  *    are genuinely new documents, not signature-identical clones.
  *  - embeddings: source vector + hash-noise (amplitude 0.25 per dim),
  *    new points around the real cluster structure rather than
  *    coincident copies.
  *
  * Remaining tables are 1x copies (the recall instruments do not read
  * them). Layout matches the driver's one-file-per-table so every
  * SparkEntry query runs unchanged against the dest dir.
  */
object DiversityReplica {

  private[graft] def h(cols: Column*): Column = xxhash64(cols: _*)

  /** element_at over a literal vocabulary, indexed by keyed hash. */
  private[graft] def pick(vocab: Seq[String], key: Column): Column =
    element_at(array(vocab.map(lit): _*),
      (pmod(key, lit(vocab.size.toLong)) + 1L).cast("int"))

  /** The k-fold diverse documents relation (replica 0 verbatim, every
    * replica >= 1 a re-drawn token sequence keyed by (orig, rep)) — the
    * one transform shared by [[build]]'s single-file gate layout and
    * [[buildDocs]]'s distributed decade-scale layout, so the two emit
    * bit-identical values. */
  private def diverseDocs(spark: SparkSession, src: String, k: Int): DataFrame = {
    val reps = spark.range(k).select(col("id").as("rep"))
    val docs = Tables.parquet(spark, s"$src/documents.parquet")
    val docToks = docs.select(explode(split(col("text"), " ")).as("tok"))
      .distinct().orderBy(col("tok")).collect().map(_.getString(0)).toSeq
    val maxDoc = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val dSeed = col("doc_id") * lit(1000033L) + col("rep")
    val synthText = array_join(transform(
      sequence(lit(1), size(split(col("text"), " "))),
      i => pick(docToks, h(dSeed, i))), " ")
    docs.crossJoin(reps)
      .withColumn("text",
        when(col("rep") === 0L, col("text")).otherwise(synthText))
      .withColumn("doc_id", col("doc_id") + col("rep") * maxDoc)
      .withColumn("n_chars", length(col("text")))
      .drop("rep")
  }

  /** Documents-only diverse replica with a DISTRIBUTED write — the
    * operational-loop rehearsal input at decade scales (the loop reads
    * only the documents table), where `writeSingle`'s
    * one-partition file would serialize a multi-GB write through a
    * single thread. Values are bit-identical to [[build]]'s documents
    * table at the same k. */
  def buildDocs(spark: SparkSession, src: String, k: Int, dest: String): Unit = {
    require(src != dest, s"DiversityReplica: dest must differ from src ($src)")
    require(k >= 2, "k must be >= 2 (replica 0 is the verbatim source)")
    diverseDocs(spark, src, k)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dest/documents.parquet")
  }

  def build(spark: SparkSession, src: String, k: Int, dest: String): Unit = {
    require(src != dest, s"DiversityReplica: dest must differ from src ($src)")
    require(k >= 2, "k must be >= 2 (replica 0 is the verbatim source)")
    val reps = spark.range(k).select(col("id").as("rep"))

    // ---- part: new entity names from the real token pool ----
    val part = Tables.parquet(spark, s"$src/part.parquet")
    val nameToks = part.select(explode(split(col("p_name"), " ")).as("tok"))
      .distinct().orderBy(col("tok")).collect().map(_.getString(0)).toSeq
    val maxPart = part.agg(max(col("p_partkey"))).head().getLong(0) + 1L
    val seed = col("p_partkey") * lit(1000003L) + col("rep")
    val rawName = concat_ws(" ",
      (0 to 2).map { i =>
        // token 2 present only for ~half the names (2-3 token entities)
        if (i < 2) pick(nameToks, h(seed, lit(i)))
        else when(pmod(h(seed, lit(99)), lit(2L)) === 0L,
          pick(nameToks, h(seed, lit(i))))
      }: _*)
    // deterministic single-char drop on ~1/4 of synthesized names: the
    // realistic typo texture (never position 1 — keep names non-empty)
    val dropAt = (pmod(h(seed, lit(7)), length(rawName) - 2L) + 2L).cast("int")
    val synthName = when(pmod(h(seed, lit(13)), lit(4L)) === 0L,
        concat(substring(rawName, lit(1), dropAt - 1),
          expr("substring(rawName, dropAt + 1)")))
      .otherwise(rawName)
    val partOut = part.crossJoin(reps)
      .withColumn("rawName", rawName).withColumn("dropAt", dropAt)
      .withColumn("p_name",
        when(col("rep") === 0L, col("p_name")).otherwise(synthName))
      .withColumn("p_partkey", col("p_partkey") + col("rep") * maxPart)
      .drop("rep", "rawName", "dropAt")
    writeSingle(partOut, s"$dest/part.parquet")

    // ---- documents: re-drawn token sequences at the source length ----
    writeSingle(diverseDocs(spark, src, k), s"$dest/documents.parquet")

    // ---- embeddings: hash-noise around the real cluster structure ----
    val emb = Tables.parquet(spark, s"$src/embeddings.parquet")
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val vSeed = col("vec_id") * lit(1000211L) + col("rep")
    val noisy = transform(col("embedding"), (x, i) =>
      (x + lit(0.25f) *
        ((pmod(h(vSeed, i), lit(1000L)).cast("float") / lit(499.5f)) - lit(1.0f)))
        .cast("float"))
    val embOut = emb.crossJoin(reps)
      .withColumn("embedding",
        when(col("rep") === 0L, col("embedding")).otherwise(noisy))
      .withColumn("vec_id", col("vec_id") + col("rep") * maxVec)
      .drop("rep")
    writeSingle(embOut, s"$dest/embeddings.parquet")

    Seq("region", "nation", "customer", "supplier", "orders", "lineitem",
        "events").foreach { t =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dest))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$t.parquet"),
        java.nio.file.Paths.get(s"$dest/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def writeSingle(df: DataFrame, path: String): Unit = {
    val tmp = path + "__tmp"
    df.repartition(1).write.mode("overwrite").parquet(tmp)
    val dir = new java.io.File(tmp)
    val part = dir.listFiles().filter(_.getName.endsWith(".parquet")) match {
      case Array(one) => one
      case o => sys.error(s"expected one part file in $tmp, got ${o.length}")
    }
    val target = new java.io.File(path)
    if (target.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(target)
    }
    java.nio.file.Files.move(part.toPath, target.toPath)
    dir.listFiles().foreach(_.delete())
    dir.delete()
    ()
  }

  /** Build (src*k=dest form) and/or re-run the recall instruments at the
    * diversity replica: the three champion-tier rows the round-12 verdict
    * flagged as clone-anchored, plus the ANN recall ladder. Each is the
    * GATE row run verbatim at the replica dir. */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DiversityReplica <src*k=dest | dir> ...")
    val spark = SparkEntry.mainSession()
    val spec = "(.+)\\*(\\d+)=(.+)".r
    val docsSpec = "docs:(.+)\\*(\\d+)=(.+)".r
    val instruments = Seq("fuzzy_batch_champ_recall",
      "dedup_winnow_champ_recall", "dedup_minhash_recall",
      "ann_ivf_recall", "ann_int8_recall", "ann_pq_recall")
    args.foreach {
      case docsSpec(s, kk, d) =>
        // documents-only build for the loop rehearsal: no part table at
        // dest, so there is no name count or recall instrument to run
        buildDocs(spark, s, kk.toInt, d)
        val n = Tables.parquet(spark, s"$d/documents.parquet").count()
        println(s"""{"metric":"diversity_docs_replica","dir":"$d","docs":$n}""")
      case a =>
        val dir = a match {
          case spec(s, kk, d) => build(spark, s, kk.toInt, d); d
          case d => d
        }
        val nNames = Tables.parquet(spark, s"$dir/part.parquet")
          .select(countDistinct(col("p_name"))).head().getLong(0)
        println(s"""{"metric":"diversity_replica","dir":"$dir","distinct_names":$nNames}""")
        instruments.foreach { name =>
          val t0 = System.nanoTime()
          val rows = SparkEntry.queries(name)(spark, dir).toJSON.collect()
          val wall = (System.nanoTime() - t0) / 1e9
          println(f"""{"metric":"diversity_recall","row":"$name","wall":$wall%.1f,"result":[${rows.mkString(",")}]}""")
        }
    }
    spark.stop()
  }
}
