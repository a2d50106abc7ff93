package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.CacheScope
import graft.functions.{Dedup, TfIdf}
import graft.model.{Boundary, CacheMode, Elem, FrameElem}
import graft.operators.{SequenceOps, StdKernels}
import graft.sources.{GopCodec, H264GopCodec, NamedStorage, VideoStore}

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What every workload shares: its seed, its scratch root, the directory
  * of reusable fixtures, and, in the traced phase, the layer accumulators. */
final class Ctx(val seed: Long, val root: String, val fixtures: String) {
  @volatile var accs: LayerAccs = null
  def traced: Boolean = accs != null
  /** the codec the workload hands to the library: the timing delegate in
    * the traced phase */
  def codec: GopCodec =
    if (traced) new TimingCodec(H264GopCodec.Default, accs) else H264GopCodec.Default
  /** driver-side counts of the traced phase (rows, pairs, rounds, ...) */
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def count(name: String, v: Double): Unit = if (traced) counts(name) += v

  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)
}

/** One benchmark workload: `op` is one timed operation, `check` verifies
  * its output outside the timed region. */
abstract class Workload(val ctx: Ctx) {
  type R
  /** what one unit of `items` is, for the human-readable lines */
  def itemName: String
  /** untimed fixture work, once per process after the first session */
  def prepare(spark: SparkSession): Unit = ()
  /** opening the inputs: part of every set-up cycle */
  def open(spark: SparkSession): Unit = ()
  def warmups: Int = 1
  def op(spark: SparkSession, i: Int): R
  def check(spark: SparkSession, i: Int, r: R): Unit
  def items(r: R): Long
  /** untimed per-op cleanup (stores, caches) */
  def cleanup(spark: SparkSession, r: R): Unit = ()
  /** extra human-readable result lines */
  def extra: Seq[String] = Nil
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "video_ingest" => new VideoIngest(ctx)
    case "video_scan"   => new VideoScan(ctx)
    case "frame_fetch"  => new FrameFetch(ctx)
    case "corpus_dedup" => new CorpusDedup(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names = Seq("video_ingest", "video_scan", "frame_fetch", "corpus_dedup")

  private[perfbench] val frameEnc = Encoders.product[FrameElem]

  /** seeded frames of `streams` x `frames`, generated inside tasks */
  def generate(spark: SparkSession, seed: Long, streams: Int, frames: Int): Dataset[FrameElem] =
    spark.range(streams.toLong * frames).map(i =>
      FrameGen.frame(seed, i / frames, i % frames))(frameEnc)

  /** One full decode of a store, in tasks: the md5 of every frame and the
    * decoded-vs-source luma PSNR (source frames are regenerated, never
    * stored). */
  def decodeAll(spark: SparkSession, seed: Long, root: String, name: String)
      : (Map[(Long, Long), String], Double) = {
    val rows = VideoStore.frames(spark, root, name, codec = H264GopCodec.Default)
      .map { f =>
        val a = FrameGen.luma(f)
        val b = FrameGen.luma(FrameGen.frame(seed, f.streamId, f.index, f.height, f.width))
        var sse = 0L; var i = 0
        while (i < a.length) { val d = a(i) - b(i); sse += d * d; i += 1 }
        (f.streamId, f.index, md5(f.data), sse, a.length.toLong)
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.STRING,
        Encoders.scalaLong, Encoders.scalaLong))
      .collect()
    val mse = rows.map(_._4).sum.toDouble / math.max(1L, rows.map(_._5).sum)
    (rows.map(r => (r._1, r._2) -> r._3).toMap,
      10 * math.log10(255.0 * 255.0 / math.max(mse, 1e-12)))
  }

  def md5(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString
}

/** Encoder and ingest write path: each op ingests the same seeded raw
  * frames into a fresh store. */
final class VideoIngest(c: Ctx) extends Workload(c) {
  type R = String
  val Streams = 2
  val Frames  = 32
  val Gop     = 16
  def itemName = "frames"
  private def raw = s"${ctx.root}/raw-frames"
  private var input: Dataset[FrameElem] = _
  private var bytesPerFrame, psnr = 0.0

  override def prepare(spark: SparkSession): Unit =
    Workload.generate(spark, ctx.seed, Streams, Frames).write.parquet(raw)

  override def open(spark: SparkSession): Unit =
    input = spark.read.parquet(raw).as[FrameElem](Workload.frameEnc)

  def op(spark: SparkSession, i: Int): String = {
    val name = s"ingest-$i"
    Trace.span("sources.ingest") {
      VideoStore.ingest(input, ctx.root, name, Gop, CacheMode.Error, codec = ctx.codec)
    }
    name
  }

  def check(spark: SparkSession, i: Int, name: String): Unit = {
    val segs = VideoStore.segments(spark, ctx.root, name)
      .agg(sum("numFrames"), sum(length(col("payload"))), count(lit(1))).head()
    ctx.check(segs.getLong(0) == Streams * Frames,
      s"ingest stored ${segs.getLong(0)} frames, expected ${Streams * Frames}")
    ctx.check(segs.getLong(2) == Streams * Frames / Gop, s"ingest stored ${segs.getLong(2)} GOPs")
    bytesPerFrame = segs.getLong(1).toDouble / segs.getLong(0)
    val (frames, p) = Workload.decodeAll(spark, ctx.seed, ctx.root, name)
    ctx.check(frames.size == Streams * Frames, s"store decodes to ${frames.size} frames")
    ctx.check(p >= VideoIngest.PsnrFloor, f"luma PSNR $p%.2f dB below the floor")
    psnr = p
  }

  def items(r: String): Long = Streams * Frames

  override def cleanup(spark: SparkSession, name: String): Unit =
    NamedStorage.delete(spark, ctx.root, name)

  override def extra = Seq(f"bytes_per_frame = $bytesPerFrame%.1f B",
    f"luma_psnr_db = $psnr%.3f dB")
}

object VideoIngest {
  /** QP 12 on the generated content decodes at 50-55 dB luma PSNR */
  val PsnrFloor = 45.0
}

/** The store `video_scan` and `frame_fetch` read. It is encoded once per
  * seed and library build into the build directory and reused by later
  * runs of either workload. The run that encodes it decodes it in full,
  * checks the frame count and luma PSNR, and keeps each frame's md5 beside
  * it; only a store that passed is kept. Later runs read the md5 list.
  */
final class Fixture(ctx: Ctx) {
  val Streams = 4
  val Frames  = 128
  val Name    = "fixture"
  val root    = s"${ctx.fixtures}/seed-${ctx.seed}"
  /** md5 of every decoded frame, by (stream, index) */
  var digests: Map[(Long, Long), String] = Map.empty

  def build(spark: SparkSession): Unit = {
    val dir  = Paths.get(root)
    val list = dir.resolve("digests.txt")
    if (!Files.exists(list)) {
      val tmp = Paths.get(s"$root.tmp-${java.util.UUID.randomUUID()}")
      VideoStore.ingest(Workload.generate(spark, ctx.seed, Streams, Frames), tmp.toString, Name,
        16, codec = H264GopCodec.Default)
      val (d, p) = Workload.decodeAll(spark, ctx.seed, tmp.toString, Name)
      ctx.check(d.size == Streams * Frames, s"fixture decodes to ${d.size} frames")
      ctx.check(p >= VideoIngest.PsnrFloor, f"fixture luma PSNR $p%.2f dB")
      Files.write(tmp.resolve("digests.txt"), d.toSeq.sorted
        .map { case ((s, i), m) => s"$s $i $m" }.mkString("", "\n", "\n").getBytes("UTF-8"))
      Files.createDirectories(dir.getParent)
      try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.io.IOException if Files.exists(list) => Main.deleteTree(tmp) }
    }
    digests = Files.readAllLines(list).asScala.map(_.split(" "))
      .map(a => (a(0).toLong, a(1).toLong) -> a(2)).toMap
    ctx.check(digests.size == Streams * Frames, s"fixture lists ${digests.size} frames")
  }

  def open(spark: SparkSession): Unit = {
    val d = NamedStorage.descriptor(spark, root, Name)
    ctx.check(d.committed && d.rows == Streams * Frames / 16, s"fixture descriptor $d")
  }
}

final case class ScanRow(streamId: Long, index: Long, ahash: Long, sharpness: Double,
    mass: Long, cut: Double)

object ScanKernels {
  val Hw = FrameGen.Height * FrameGen.Width

  /** per-frame features packed into one payload (histogram, aHash,
    * Laplacian variance) so one stencil window carries all of them */
  def features(accs: LayerAccs)(f: FrameElem): Elem = {
    val t0 = System.nanoTime()
    val h = StdKernels.histogram(f)
    val t1 = System.nanoTime()
    val a = StdKernels.averageHash(f)
    val t2 = System.nanoTime()
    val s = StdKernels.laplacianVariance(f)
    val t3 = System.nanoTime()
    if (accs != null) {
      accs.histNs.add(t1 - t0); accs.ahashNs.add(t2 - t1); accs.sharpNs.add(t3 - t2)
      accs.strideRows.add(1)
      Trace.record("operators.histogram", t0, t1)
      Trace.record("operators.ahash", t1, t2)
      Trace.record("operators.sharpness", t2, t3)
    }
    val out = ByteBuffer.allocate(h.length + 16).order(ByteOrder.LITTLE_ENDIAN)
    out.put(h).putLong(a).putDouble(s)
    Elem(f.streamId, f.index, out.array())
  }

  private def bins(p: Array[Byte]): Array[Int] =
    StdKernels.histogramBins(java.util.Arrays.copyOf(p, 192))

  /** shot-cut score of window {previous, current}: L1 histogram distance
    * over twice the sample count, in [0, 1] */
  def row(r: Row): ScanRow = {
    val w = r.getSeq[Array[Byte]](2)
    val cur = w(1); val prev = w(0)
    val hc = bins(cur); val hp = bins(prev)
    var d = 0L; var i = 0
    while (i < hc.length) { d += math.abs(hc(i) - hp(i)); i += 1 }
    val bb = ByteBuffer.wrap(cur, 192, 16).order(ByteOrder.LITTLE_ENDIAN)
    ScanRow(r.getLong(0), r.getLong(1), bb.getLong, bb.getDouble, hc.map(_.toLong).sum,
      d / (2.0 * 3 * Hw))
  }
}

/** Bulk analysis pass: decode, stride, three kernels, shot-cut stencil,
  * sink. */
final class VideoScan(c: Ctx, fixture: Fixture) extends Workload(c) {
  def this(c: Ctx) = this(c, new Fixture(c))
  type R = Long
  val Stride = 2
  val CutScore = 0.5
  def itemName = "frames"
  private val elemEnc = Encoders.product[Elem]
  private val rowEnc  = Encoders.product[ScanRow]

  override def prepare(spark: SparkSession): Unit = fixture.build(spark)
  override def open(spark: SparkSession): Unit = fixture.open(spark)

  def op(spark: SparkSession, i: Int): Long = {
    val accs = ctx.accs
    val frames = Trace.span("sources.frames") {
      VideoStore.frames(spark, fixture.root, fixture.Name, codec = ctx.codec)
    }
    val strided = SequenceOps.stride(frames.toDF(), Stride).as[FrameElem](Workload.frameEnc)
    val feats = strided.map(ScanKernels.features(accs) _)(elemEnc).toDF()
    val out = SequenceOps.stencil(feats, Seq(-1, 0), "payload", Boundary.RepeatEdge)
      .map(ScanKernels.row _)(rowEnc).toDF()
    val d = Trace.span("sources.sink") {
      NamedStorage.write(out, ctx.root, "scan-sink", CacheMode.Overwrite)
    }
    ctx.count("sources.sink_rows", d.rows)
    d.rows
  }

  def check(spark: SparkSession, i: Int, rows: Long): Unit = {
    val perStream = (fixture.Frames + Stride - 1) / Stride
    ctx.check(rows == fixture.Streams * perStream, s"sink holds $rows rows")
    val got = NamedStorage.read(spark, ctx.root, "scan-sink").as[ScanRow](rowEnc).collect()
    ctx.check(got.forall(_.mass == 3L * ScanKernels.Hw), "histogram mass != sample count")
    val cuts = got.filter(_.cut > CutScore).map(r => (r.streamId, r.index)).toSet
    val planted = (0 until fixture.Streams).flatMap(s =>
      FrameGen.cuts(ctx.seed, s, fixture.Frames).map(c => (s.toLong, c.toLong / Stride))).toSet
    ctx.check(cuts == planted, s"shot cuts $cuts != planted $planted")
  }

  def items(r: Long): Long = fixture.Streams.toLong * fixture.Frames
}

/** Sparse random access: one closed-loop client, one multi-stream gather
  * per request. */
final class FrameFetch(c: Ctx, fixture: Fixture) extends Workload(c) {
  def this(c: Ctx) = this(c, new Fixture(c))
  type R = (Map[Long, Seq[Long]], Array[FrameElem])
  val StreamsPerRequest = 2
  val FramesPerStream   = 3
  def itemName = "requests"
  override def warmups = 5

  override def prepare(spark: SparkSession): Unit = fixture.build(spark)
  override def open(spark: SparkSession): Unit = fixture.open(spark)

  def wants(i: Int): Map[Long, Seq[Long]] = {
    val h = Mix.hash(ctx.seed, 77L, i)
    val streams = scala.util.Random.javaRandomToRandom(new java.util.Random(h))
      .shuffle((0 until fixture.Streams).map(_.toLong)).take(StreamsPerRequest)
    streams.map { s =>
      s -> Iterator.from(0).map(k => Mix.below(Mix.hash(h, s, k), fixture.Frames).toLong)
        .distinct.take(FramesPerStream).toSeq.sorted
    }.toMap
  }

  def op(spark: SparkSession, i: Int): R = {
    val w = wants(i)
    val ds = Trace.span("sources.gather_plan") {
      VideoStore.gatherFramesMulti(spark, fixture.root, fixture.Name, w, codec = ctx.codec)
    }
    val got = Trace.span("sources.gather_collect")(ds.collect())
    ctx.count("sources.frames_used", got.length)
    (w, got)
  }

  def check(spark: SparkSession, i: Int, r: R): Unit = {
    val (w, got) = r
    val want = w.toSeq.flatMap { case (s, rs) => rs.map(s -> _) }.toSet
    ctx.check(got.length == want.size, s"request $i returned ${got.length} of ${want.size} frames")
    ctx.check(got.map(f => (f.streamId, f.index)).toSet == want, s"request $i returned wrong frames")
    got.foreach(f => ctx.check(Workload.md5(f.data) == fixture.digests((f.streamId, f.index)),
      s"frame (${f.streamId}, ${f.index}) differs from the full decode"))
  }

  def items(r: R): Long = 1
}

/** Near-duplicate removal and retrieval over a seeded corpus: LSH pairs,
  * connected components, keep one per cluster, substring removal, BM25. */
final class CorpusDedup(c: Ctx) extends Workload(c) {
  final case class Out(labels: Array[(Long, Long)], clean: Array[(Long, Long, Boolean)],
      top: Array[(Long, Long, Long, Double)])
  type R = Out
  val Docs    = 1024L
  val Slots   = 48
  val Rows    = 6
  val Window  = 10
  val Queries = 4
  val K       = 10
  def itemName = "docs"
  // jobs got faster over the first five (16, 8.4, 7.2, 6.9, 6.3 s on 4
  // cores) and then held at 5.2-5.9 s
  override def warmups = 5
  private def path = s"${ctx.root}/corpus"
  private var docs: DataFrame = _
  private var queryIds: Seq[Long] = Nil
  private var digest: String = null

  override def prepare(spark: SparkSession): Unit = {
    val seed = ctx.seed
    spark.range(Docs).map(id => (id.longValue, CorpusGen.text(seed, id)))(
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING)).toDF("id", "text")
      .write.parquet(path)
    queryIds = CorpusGen.queries(seed, Docs, Queries)
  }

  override def open(spark: SparkSession): Unit = docs = spark.read.parquet(path)

  def op(spark: SparkSession, i: Int): Out = {
    import spark.implicits._
    val pairs = Trace.span("functions.lsh") {
      val p = Dedup.lshCandidatePairs(docs, "id", "text", Slots, Rows)
      // traced run: materialize so the span covers the pair computation
      if (ctx.traced) {
        p.persist(StorageLevel.MEMORY_AND_DISK)
        ctx.count("functions.lsh_pairs", p.count().toDouble)
      }
      p
    }
    if (ctx.traced) {
      val ps = pairs.as[(Long, Long)].collect()
      val seed = ctx.seed
      ctx.count("functions.lsh_true_pairs",
        ps.count { case (a, b) => CorpusGen.clusterOf(seed, a) == CorpusGen.clusterOf(seed, b) })
    }
    val labels = Trace.span("functions.cc") {
      val (l, rounds) = Dedup.connectedComponentsWithStats(docs.select("id"), pairs, "id")
      ctx.count("functions.cc_rounds", rounds)
      l.localCheckpoint()
    }
    val labelRows = labels.as[(Long, Long)].collect()
    val kept = docs.join(labels.filter($"id" === $"cluster").select("id"), Seq("id"), "left_semi")
    val (clean, cleanRows) = Trace.span("functions.substr") {
      // the retrieval stage indexes the materialized cleaned corpus: over
      // the lazily composed lineage, BM25 planning alone took ~18 s
      val cl = Dedup.removeDuplicatedWindows(kept, "id", "text", Window).localCheckpoint()
      (cl, cl.select($"id", $"n_cut", instr($"clean_text", "bp") > 0)
        .as[(Long, Long, Boolean)].collect())
    }
    val top = Trace.span("functions.bm25") {
      TfIdf.bm25TopK(clean, queryIds.toDF("id"), "id", "clean_text", K)
        .toDF("qid", "id", "rank", "score").as[(Long, Long, Long, Double)].collect()
    }
    pairs.unpersist()
    ctx.count("functions.windows_cut", cleanRows.map(_._2).sum.toDouble)
    ctx.count("functions.bm25_rows", top.length)
    Out(labelRows, cleanRows, top)
  }

  def check(spark: SparkSession, i: Int, o: Out): Unit = {
    val seed = ctx.seed
    ctx.check(o.labels.length == Docs, s"${o.labels.length} labels for $Docs docs")
    o.labels.foreach { case (id, cl) =>
      ctx.check(cl == CorpusGen.clusterOf(seed, id),
        s"doc $id labelled $cl, planted cluster ${CorpusGen.clusterOf(seed, id)}")
    }
    val kept = o.labels.collect { case (id, cl) if id == cl => id }.toSet
    ctx.check(o.clean.map(_._1).toSet == kept, "cleaned corpus is not the kept set")
    // a passage shared by two kept docs must be cut from both; text
    // without a passage must come through whole
    val sharedPassage = kept.toSeq.groupBy(id => CorpusGen.passageOf(seed, id))
      .collect { case (p, ids) if p >= 0 && ids.size > 1 => p }.toSet
    o.clean.foreach { case (id, nCut, hasBp) =>
      val p = CorpusGen.passageOf(seed, id)
      if (p < 0) ctx.check(nCut == 0, s"doc $id lost $nCut tokens without a planted passage")
      else if (sharedPassage(p))
        ctx.check(!hasBp && nCut >= CorpusGen.PassageLen, s"doc $id kept its shared passage")
    }
    val byQ = o.top.groupBy(_._1)
    ctx.check(byQ.keySet == queryIds.toSet, "top-k misses queries")
    byQ.foreach { case (q, rs) =>
      val s = rs.sortBy(_._3)
      ctx.check(s.length == K && s.map(_._3).toSeq == (1 to K).map(_.toLong),
        s"query $q ranks ${s.map(_._3).mkString(",")}")
      ctx.check(s.forall(r => r._2 != q && kept(r._2)), s"query $q returned a removed or self doc")
      ctx.check(s.sliding(2).forall(p => p.length < 2 || p(0)._4 >= p(1)._4),
        s"query $q scores not descending")
    }
    val d = Workload.md5(o.top.sorted.mkString(";").getBytes("UTF-8"))
    if (digest == null) digest = d
    ctx.check(d == digest, s"top-k digest $d differs from this run's first $digest")
  }

  def items(o: Out): Long = Docs

  override def cleanup(spark: SparkSession, o: Out): Unit = CacheScope.release()

  override def extra = Seq(s"topk_digest = $digest")
}
