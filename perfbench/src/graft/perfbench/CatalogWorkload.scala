package graft.perfbench

import scala.util.Random

import graft.queries.{Catalog, QueryDef}

/** Expected result of one catalog entry. `hash` is None for entries whose
  * output is seeded or trained (checked on row count and schema only);
  * `rows` is -1 when even the row count is not fixed.
  */
final case class Expected(entry: String, rows: Long, hash: Option[String], schema: String)

object Expected {
  /** Tab-separated `entry rows row_hash schema`; `-` marks no row hash. */
  def load(path: String): Map[String, Expected] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(_.startsWith("#")).map { line =>
      val Array(n, rows, hash, schema) = line.split("\t", 4)
      n -> Expected(n, rows.toLong, Some(hash).filter(_ != "-"), schema)
    }.toMap
    finally src.close()
  }
}

/** The `llm_curate` workload: one client runs whole passes over the
  * catalog entries [[CatalogWorkload.Entries]], each pass in a seeded
  * order, and checks every result against its committed fingerprint.
  */
final class CatalogWorkload(expected: Map[String, Expected]) {
  val entries: Seq[QueryDef] = CatalogWorkload.Entries.sorted.map(n => Catalog.byName.getOrElse(n,
    throw new NoSuchElementException(s"catalog entry $n is gone")))
  private val unrecorded = entries.map(_.name).filterNot(expected.contains)
  require(unrecorded.isEmpty,
    s"no expected fingerprint for ${unrecorded.mkString(", ")}: run perfbench/run.py --record")

  /** One op: build the DataFrame (`QueryDef.run`, which may itself pin,
    * commit or write indexes) then collect it — the action a user waits
    * for. Pinned blocks and cached tables are released inside the op, as
    * `graft.Bench` does, so one entry's cache never serves the next.
    */
  def runEntry(ctx: Ctx, q: QueryDef): OpResult =
    ctx.op(q.name, CatalogWorkload.groupOf(q.name), write = false) {
      val spark = ctx.spark
      val df = ctx.tracer.span("queries.build")(q.run(spark, ctx.dataDir))
      val rows = ctx.tracer.span("queries.action")(df.collect())
      graft.operators.Pinned.release()
      spark.catalog.clearCache()
      val schema = df.schema
      () => check(q.name, Fingerprint.of(schema, rows))
    }

  def check(entry: String, got: Fingerprint): Unit = {
    val e = expected(entry)
    if (e.schema != got.schema)
      throw new Mismatch(s"$entry schema ${got.schema} != expected ${e.schema}")
    if (e.rows >= 0 && e.rows != got.rows)
      throw new Mismatch(s"$entry rows ${got.rows} != expected ${e.rows}")
    if (e.hash.exists(_ != got.hashHex))
      throw new Mismatch(s"$entry row hash ${got.hashHex} != expected ${e.hash.get}")
  }

  def pass(ctx: Ctx, seed: Long, passNo: Int): Seq[OpResult] =
    CatalogWorkload.passOrder(entries.map(_.name), seed, passNo)
      .map(n => runEntry(ctx, entries.find(_.name == n).get))

  /** Whole passes, numbered from `firstPass`, until at least `minSeconds`
    * have passed and `minOps` ops ran, so every run measures the same
    * multiset of entries. Returns the number of the next pass.
    */
  def measure(ctx: Ctx, seed: Long, firstPass: Int, minSeconds: Double, minOps: Int): Int = {
    val t0 = Clock.nowMs
    var passNo = firstPass
    var ops = 0
    while (ops < minOps || (Clock.nowMs - t0) / 1e3 < minSeconds) {
      ops += pass(ctx, seed, passNo).size
      passNo += 1
    }
    passNo
  }
}

object CatalogWorkload {
  /** LLM-data and training entries, one to five per layer group, so that
    * one warm-up and three measured passes fit one run at local[4]. Every
    * `_probe` entry has the entry that builds its index in the set. The
    * count is odd: three passes then put each percentile the workload reports
    * on the samples of one entry rather than between two entries, whose
    * times differ by more than a run's noise.
    */
  val Entries: Seq[String] = Seq(
    "e1_dedup_exact", "e2_minhash_lsh",
    "e3_ann_ivfpq_append", "e3_ann_pq",
    "e3_ann_pq_probe", "e3_cosine_topk",
    "e5_bpe_encode", "e5_text_stats", "e7_clean_corpus_stats",
    "e10_decontaminate", "e10_contamination_bloom",
    "e11_token_budget", "e12_weighted_mix", "e13_outlier_mad",
    "m1_classification_pipeline", "m2_autoencoder", "m3_mlp_classifier", "m5_word2vec_table",
    "x4_param_sweep",
    "m6_eval_accuracy", "m6_per_class_metrics")

  /** The layer an entry exercises, used to group per-layer metrics. */
  def groupOf(entry: String): String = entry match {
    case e if e.startsWith("e10_") => "operators.contamination"
    case e if e.startsWith("e1_") || e.startsWith("e2_") => "operators.dedup"
    case e if e.startsWith("e3_") && (e.endsWith("_probe") || e == "e3_cosine_topk") =>
      "operators.ann_probe"
    case e if e.startsWith("e3_") => "operators.ann_build"
    case e if e.startsWith("m6_") => "ml.eval"
    case e if e.startsWith("m") || e.startsWith("x") => "ml.train"
    case e if Seq("e11_", "e12_", "e13_").exists(e.startsWith) => "operators.mix"
    case _ => "operators.text"
  }

  /** The entry that builds the index a `_probe` entry reads, when both
    * are in the set.
    */
  def indexEntryOf(probe: String, names: Set[String]): Option[String] =
    Some(probe).filter(_.endsWith("_probe")).map(_.stripSuffix("_probe")).filter(names)

  /** Seeded order of one pass: the entries' fixed cycle (sorted by name,
    * so a probe follows the entry that builds its index) started at an
    * offset the seed and the pass number pick; a probe that lands before
    * the entry that builds its index swaps places with it, so the index a
    * probe times was built by the entry the workload names, not by the
    * probe. Shuffled passes made whole runs of one seed faster or slower
    * than another's, since which entry follows which matters; a rotation
    * keeps every entry's neighbours.
    */
  def passOrder(names: Seq[String], seed: Long, passNo: Int): Seq[String] = {
    val cycle = names.sorted
    val k = new Random(seed * 1000003L + passNo).nextInt(cycle.size)
    val order = (cycle.drop(k) ++ cycle.take(k)).toArray
    val set = names.toSet
    for (i <- order.indices; b <- indexEntryOf(order(i), set)) {
      val j = order.indexOf(b)
      if (j > i) { order(j) = order(i); order(i) = b }
    }
    order.toSeq
  }
}
