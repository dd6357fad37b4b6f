package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

import graft.ext.NearDup
import graft.pipeline.{IndexStore, Warehouse}
import graft.streaming.StreamingIngest

/** LLM-corpus dedup on arrival: seeded document batches land as parquet
  * files, and each landing is drained by one
  * `StreamingIngest.dedupeOnArrivalStream` AvailableNow run against the
  * persisted MinHash signature index. Every `ClusterEvery` epochs a
  * read-side cluster query runs `IndexStore.minhashProbePairs`, then
  * `NearDup.keepBest` (which runs `NearDup.clusters`).
  *
  * Planted properties: the duplicate share cycles through `DupShares`,
  * one entry per epoch of a step. Fresh-only epochs carry no duplicates,
  * so the index's bloom probe can prove nothing collides. The others carry
  * exact re-deliveries (new id, same text) from the same epoch and from
  * earlier epochs, which the stream must drop, and near-duplicates at
  * planted Jaccard levels (about 0.5 and 0.65 over word 3-shingles), which
  * it must keep and the cluster query must group. The stream's duplicate
  * test is signature equality (`sigkey`, the hash of the MinHash
  * signature), so the model dedups on the same key, computed here from
  * the text without the engine: a near-duplicate whose signature happens
  * to equal an accepted document's is dropped too. Each epoch adds one
  * index file per part, so with `CompactAfterFiles` = 2 × `IndexParts` the
  * index compacts every second epoch: once per step, on the step's last
  * epoch. So every step, the warm-up's included, is the same mix of
  * epochs.
  */
final class DocsStream extends Workload {
  import DocsStream._

  val mainKinds = Set("epoch")
  val sideKinds = Set("cluster")
  val stepSeconds = 6.0

  private val Vocab = 5000
  private val SeedDocs = 1000
  private val BatchDocs = 300
  private val ClusterEvery = 2
  private val IndexParts = 8
  private val CompactAfterFiles = 16
  private val MinJaccard = 0.45
  // one per epoch of a step; the set-up's seed landing is epoch 0
  private val DupShares = Seq(0.0, 0.3)

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("quality", DoubleType)))

  private var spark: SparkSession = _
  private var dir: Path = _
  private var rng: scala.util.Random = _
  private var wh: Warehouse = _
  private var vocab: IndexedSeq[String] = _

  // Model: the accepted corpus in arrival order, its signature keys, and
  // the near-duplicate families (originals and the near-dups made from
  // them).
  private val accepted = mutable.ArrayBuffer.empty[Doc]
  private val acceptedKeys = mutable.HashSet.empty[Long]
  private val families = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Doc]]
  private val originals = mutable.HashMap.empty[Long, Doc]

  private var nextId = 0L
  private var epoch = 0
  private var landedDocs = 0L
  private var droppedDocs = 0L
  private var landed = 0L
  private var idxVersionAtStart = Long.MaxValue
  private val clusterPairs = mutable.ArrayBuffer.empty[Long]
  // live index files before and after each traced epoch (op index)
  private val idxFilesAtEpoch = mutable.HashMap.empty[Int, (Int, Int)]

  def warehouseDir: Path = dir.resolve("warehouse")
  def warehouse = wh
  val tables = Seq("accepted", "accepted_sig")
  def landedBytes: Long = landed
  private def landing = dir.resolve("landing")

  private def original(): Doc = {
    nextId += 1
    val d = Doc(nextId, Array.fill(60 + rng.nextInt(60))(vocab(rng.nextInt(Vocab))),
      rng.nextInt(1000000) / 1e6, nextId)
    originals(d.id) = d
    d
  }

  /** A near-duplicate of `base`: scattered single-word substitutions,
    * about S(1-J)/(3(1+J)) of them for a planted Jaccard J. */
  private def nearDup(base: Doc, j: Double): Doc = {
    nextId += 1
    val w = base.words.clone()
    val k = math.max(1, ((w.length - 2) * (1 - j) / (3 * (1 + j))).round.toInt)
    rng.shuffle((0 until w.length by 3).toIndexedSeq).take(k)
      .foreach(i => w(i) = vocab(rng.nextInt(Vocab)))
    Doc(nextId, w, rng.nextInt(1000000) / 1e6, base.family)
  }

  private def copyOf(base: Doc): Doc = {
    nextId += 1
    Doc(nextId, base.words, rng.nextInt(1000000) / 1e6, base.family)
  }

  /** One landing's documents. The duplicate share cycles through
    * `DupShares` by epoch, so every run sees the same mix of fresh-only
    * and duplicate-carrying epochs; the seed only changes content. */
  private def batch(n: Int): Seq[Doc] = {
    val dupShare = DupShares(epoch % DupShares.size)
    val out = mutable.ArrayBuffer.empty[Doc]
    (0 until n).foreach { _ =>
      val u = rng.nextDouble()
      val inBatch = out.nonEmpty && rng.nextBoolean()
      def pick(): Doc =
        if (inBatch || accepted.isEmpty) out(rng.nextInt(out.size))
        else accepted(rng.nextInt(accepted.size))
      val canCopy = out.nonEmpty || accepted.nonEmpty
      out += (if (canCopy && u < dupShare / 2) copyOf(pick())
        else if (canCopy && u < dupShare) {
          nearDup(originals(pick().family), if (rng.nextBoolean()) 0.5 else 0.65)
        } else original())
    }
    out.toSeq
  }

  /** Writes `docs` as one parquet file into the landing directory
    * (staged, then renamed in, so the stream never sees a partial file)
    * and applies the dedup-on-arrival contract to the model. */
  private def land(docs: Seq[Doc]): (Long, Long) = {
    val stage = dir.resolve(s"stage/$epoch")
    spark.createDataFrame(
        docs.map(d => Row(d.id, d.text, d.quality)).asJava, schema)
      .coalesce(1).write.parquet(stage.toString)
    val part = Files.list(stage).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(landing)
    val target = landing.resolve(f"batch-$epoch%05d.parquet")
    Files.move(part, target)
    Dirs.deleteRecursively(stage)
    epoch += 1
    var kept = 0L
    docs.foreach { d =>
      if (acceptedKeys.add(d.sigkey)) {
        accepted += d
        families.getOrElseUpdate(d.family, mutable.ArrayBuffer.empty) += d
        kept += 1
      }
    }
    (Files.size(target), kept)
  }

  private def drain(rec: Recorder): Unit = {
    val q = StreamingIngest.dedupeOnArrivalStream(spark, landing.toString,
      schema, wh, "accepted", "accepted_sig", dir.resolve("ckpt").toString,
      numHashes = NumHashes, nParts = IndexParts,
      compactAfterFiles = CompactAfterFiles)
    if (rec.timing && rec.tracedStep) rec.tracer.foreach { t =>
      Thread.getAllStackTraces.keySet.asScala.find(th =>
        th.getName.startsWith("stream execution thread") &&
          th.getName.contains(q.runId.toString)).foreach(t.watch)
    }
    try q.awaitTermination()
    finally rec.tracer.foreach(_.unwatch())
  }

  def setup(spark: SparkSession, dir: Path, seed: Long): Unit = {
    this.spark = spark
    this.dir = dir
    rng = new scala.util.Random(seed)
    val words = mutable.LinkedHashSet.empty[String]
    while (words.size < Vocab)
      words += Array.fill(3 + rng.nextInt(6))(('a' + rng.nextInt(26)).toChar).mkString
    vocab = words.toIndexedSeq
    accepted.clear(); acceptedKeys.clear(); families.clear(); originals.clear()
    nextId = 0L; epoch = 0
    wh = new Warehouse(spark, warehouseDir.toString,
      specs = Map("accepted" -> Warehouse.TableSpec(schema)))
    wh.bootstrap()
    val (_, kept) = land(batch(SeedDocs))
    drain(new Recorder(None))
    require(wh.metaRowCount("accepted").contains(kept),
      s"docs_stream_dedup seed load accepted ${wh.metaRowCount("accepted")}, expected $kept")
  }

  private def expectedClusters(): (Long, Set[(Long, Boolean)]) = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    var pairs = 0L
    families.valuesIterator.filter(_.size > 1).foreach { fam =>
      for (i <- fam.indices; k <- i + 1 until fam.size) {
        val (a, b) = (fam(i).shingles, fam(k).shingles)
        val common = a.intersect(b).size
        // the probe finds a pair only if the two share a band (one
        // signature entry per band), then verifies the exact Jaccard
        if (fam(i).sig.indices.exists(h => fam(i).sig(h) == fam(k).sig(h)) &&
            common.toDouble / (a.size + b.size - common).toDouble >= MinJaccard) {
          pairs += 1
          val (ra, rb) = (find(fam(i).id), find(fam(k).id))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      }
    }
    val byId = accepted.iterator.map(d => d.id -> d).toMap
    val groups = parent.keys.toSeq.groupBy(find).map { case (root, ms) =>
      (ms :+ root).distinct.map(byId) }
    val out = groups.flatMap { g =>
      val best = g.minBy(d => (-d.quality, d.id))
      g.map(d => (d.id, d.id == best.id))
    }.toSet
    (pairs, out)
  }

  def warmup(rec: Recorder): Unit = step(rec)

  /** One step: `ClusterEvery` landings, each drained as one epoch, then
    * the cluster query, so every step has the same mix of operations. */
  def step(rec: Recorder): Unit = {
    (0 until ClusterEvery).foreach(_ => epochOp(rec))
    clusterOp(rec)
  }

  private def epochOp(rec: Recorder): Unit = {
    val docs = batch(BatchDocs)
    val (bytes, kept) = land(docs)
    val before = wh.metaRowCount("accepted").getOrElse(-1L)
    val index = rec.ops.size
    def idxFiles = wh.read("accepted_sig").inputFiles.length
    val filesBefore = if (rec.timing && rec.tracedStep) idxFiles else 0
    rec.op[Unit]("epoch", "streaming", _ => docs.size.toLong) {
      drain(rec)
    } { _ => wh.metaRowCount("accepted").contains(before + kept) }
    if (rec.timing && rec.tracedStep)
      idxFilesAtEpoch(index) = (filesBefore, idxFiles)
    if (rec.timing) {
      landed += bytes
      landedDocs += docs.size
      droppedDocs += docs.size - kept
    } else idxVersionAtStart = wh.versions("accepted_sig").max
  }

  private def clusterOp(rec: Recorder): Unit = {
    val (expPairs, expKept) = expectedClusters()
    rec.op[(Long, Set[(Long, Boolean)])]("cluster", "ext", _ => 0L) {
      val pairs = rec.span("minhashProbePairs", "pipeline.index_store") {
        IndexStore.minhashProbePairs(wh, "accepted", "accepted_sig",
          "doc_id", "text", n = 3, numHashes = NumHashes,
          numBands = NumHashes, minJaccard = MinJaccard).localCheckpoint()
      }
      val n = pairs.count()
      val rows = rec.span("keepBest", "ext") {
        NearDup.keepBest(wh.read("accepted"), "doc_id", pairs, col("quality"))
          .where(col("cluster_size") > 1)
          .select("doc_id", "is_kept").collect()
      }
      pairs.unpersist()
      (n, rows.map(r => (r.getLong(0), r.getBoolean(1))).toSet)
    } { case (n, got) =>
      if (rec.timing) clusterPairs += n
      val good = n == expPairs && got == expKept
      if (!good) System.err.println(s"cluster query: $n pairs, expected " +
        s"$expPairs; ${(got -- expKept).size} members unexpected, " +
        s"${(expKept -- got).size} missing")
      good
    }
  }

  def finalChecks(): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    val ids = wh.read("accepted").select("doc_id").collect().map(_.getLong(0)).toSet
    val expIds = accepted.iterator.map(_.id).toSet
    if (ids != expIds)
      fails += s"accepted set differs from planted representatives: " +
        s"${(ids -- expIds).size} extra, ${(expIds -- ids).size} missing"
    val idx = wh.read("accepted_sig").select("doc_id", "sigkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (idx.size != expIds.size)
      fails += s"index rows ${idx.size} != accepted ${expIds.size}"
    val wrongKeys = accepted.count(d => !idx.get(d.id).contains(d.sigkey))
    if (wrongKeys > 0) fails += s"$wrongKeys index signature keys differ from the model's"
    tables.foreach { t =>
      val issues = wh.fsck(t)
      if (issues.nonEmpty) fails += s"fsck $t: ${issues.take(3)}"
    }
    fails.toSeq
  }

  def namedMetrics(ops: Seq[Op]): Seq[(String, (Double, String))] =
    Main.latency("epoch", ops.filter(_.kind == "epoch"), tail = true) ++
      Main.latency("cluster", ops.filter(_.kind == "cluster"), tail = false)

  def layerMetrics(ops: Seq[Op], t: Tracer): Map[String, Double] = {
    val compactions = wh.history("accepted_sig")
      .count { case (v, m) => v > idxVersionAtStart && m.get("op").contains("compact") }
    // The membership probe is the epoch's anti-join against the index;
    // other index scans read the files the epoch appended. Epochs that
    // compact the index (and so read all of it) are left out.
    val probeEpochs = idxFilesAtEpoch.collect {
      case (op, (before, after)) if after > before => op -> before }
    val idxRoot = warehouseDir.resolve("accepted_sig").toString
    val execOp = Ledger.executionOps(t, ops)
    val opened = t.qes.asScala.toSeq.filter(_.joins).flatMap { q =>
      execOp.get(q.executionId).filter(probeEpochs.contains).toSeq.flatMap(op =>
        q.scans.filter(_.root.contains(idxRoot)))
    }.groupBy(_.id).values.map(_.maxBy(_.files).files)
    val progress = t.progress.asScala.toSeq.map(_.progress)
      .filter(_.numInputRows > 0)
    def dur(k: String): Double = {
      val xs = progress.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    Map(
      "pipeline.index_store.compactions" -> compactions.toDouble,
      "pipeline.index_store.probe_files_opened_ratio" ->
        opened.sum.toDouble / math.max(1, probeEpochs.values.sum),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.dup_ratio" -> droppedDocs.toDouble / math.max(1L, landedDocs),
      "ext.cluster_pairs" ->
        (if (clusterPairs.isEmpty) 0.0 else Stats.median(clusterPairs.map(_.toDouble).toSeq)))
  }

  def sizes(): Map[String, Any] = Map(
    "epochs" -> epoch, "accepted_docs" -> accepted.size,
    "landed_docs_timed" -> landedDocs)
}

object DocsStream {
  final case class Doc(id: Long, words: Array[String],
      quality: Double, family: Long) {
    lazy val text: String = words.mkString(" ")
    lazy val shingles: Set[String] =
      words.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    lazy val sig: Array[Long] = signature(shingles, NumHashes)
    lazy val sigkey: Long = sig.foldLeft(42L)((h, v) => XXH64.hashLong(v, h))
  }

  val NumHashes = 32

  /** The index's MinHash signature of a document with these word
    * 3-shingles, as Spark computes it (the reference is
    * `NearDup.minhashSignatures` and `IndexStore.minhashRows`): per
    * shingle h1 = xxhash64(shingle) and h2 = xxhash64(shingle,
    * golden-ratio constant); entry i is min(h1 + i * h2) in wrapping
    * arithmetic, and `sigkey` is the signature's xxhash64. Spark's
    * xxhash64 seeds with 42 and chains the hash of each value into the
    * seed of the next. */
  def signature(shingles: Set[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    shingles.foreach { sh =>
      val h1 = XXH64.hashUTF8String(UTF8String.fromString(sh), 42L)
      val h2 = XXH64.hashLong(0x9E3779B97F4A7C15L, h1)
      var i = 0
      while (i < numHashes) {
        val v = h1 + i.toLong * h2
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }
}
