package perfbench

import graft.model.{FrameElem, FrameType}

/** Seeded input generators. Every value is a pure function of
  * (seed, position), so executor tasks generate their own slice of the
  * input and a checker can regenerate any element without storing it.
  * perfbench/README.md says why each property exists.
  */
object Mix {
  /** splitmix64 finalizer */
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(a: Long, b: Long): Long = mix(mix(a) ^ b)
  def hash(a: Long, b: Long, c: Long): Long = hash(hash(a, b), c)
  /** uniform in [0, 1) */
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))
  /** uniform in [0, n) */
  def below(h: Long, n: Int): Int = java.lang.Math.floorMod(h, n.toLong).toInt
}

/** RGB frames with per-stream motion and planted scene cuts. */
object FrameGen {
  import Mix._

  val Height = 240
  val Width  = 320

  /** Scenes last 12 or 14 frames, so a 128-frame stream has nine or ten
    * cuts wherever the seed puts them; cuts sit at even indices, so a
    * stride-2 pass sees each one at output index cut/2.
    */
  private def sceneLen(seed: Long, stream: Long, k: Int): Int =
    12 + 2 * below(hash(seed, stream, 1000L + k), 2)

  /** first frame index of every scene after the first */
  def cuts(seed: Long, stream: Long, nFrames: Int): Seq[Int] =
    Iterator.iterate((0, 0)) { case (at, k) => (at + sceneLen(seed, stream, k), k + 1) }
      .map(_._1).drop(1).takeWhile(_ < nFrames).toSeq

  /** (scene number, first frame of the scene) of frame `index` */
  private def sceneOf(seed: Long, stream: Long, index: Long): (Int, Long) = {
    var start = 0L; var k = 0
    while (start + sceneLen(seed, stream, k) <= index) {
      start += sceneLen(seed, stream, k); k += 1
    }
    (k, start)
  }

  private def noise(u: Int, v: Int, salt: Long): Int =
    (mix((u.toLong << 32) ^ (v.toLong & 0xffffffffL) ^ salt) & 15).toInt

  /** a fixed speed in a seeded direction: the seed moves content around
    * but leaves the encoder and decoder the same amount of work */
  private def velocity(h: Long, speed: Int): Int = if ((h & 1) == 0) speed else -speed

  /** Scenes alternate between a dark palette (sample values 10..85) and a
    * bright one (156..231), so 16-bin histograms of two scenes share no
    * bin and a cut is unmistakable; inside a scene the background pans and
    * three textured objects move, all within the encoder's +-4 pixel
    * motion search.
    */
  def frame(seed: Long, stream: Long, index: Long,
      h: Int = Height, w: Int = Width): FrameElem = {
    val (scene, sceneStart) = sceneOf(seed, stream, index)
    val sh   = hash(seed, stream, 7777L + scene)
    val lo   = if ((scene + stream) % 2 == 0) 10 else 156
    val a    = Array.tabulate(3)(c => lo + below(hash(sh, c), 40))
    val b    = Array.tabulate(3)(c => lo + below(hash(sh, 10L + c), 40))
    val obj  = Array.tabulate(3)(c => lo + 60 + below(hash(sh, 20L + c), 12) - 12)
    val t    = (index - sceneStart).toInt
    val px   = velocity(hash(seed, stream, 1L), 2) * t
    val py   = velocity(hash(seed, stream, 2L), 1) * t
    val nObj = 3
    val ox = Array.tabulate(nObj)(j =>
      Math.floorMod(below(hash(sh, 30L + j), w) + velocity(hash(sh, 40L + j), 3) * t, w))
    val oy = Array.tabulate(nObj)(j =>
      Math.floorMod(below(hash(sh, 50L + j), h) + velocity(hash(sh, 60L + j), 2) * t, h))
    val data = new Array[Byte](h * w * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val u = x + px; val v = y + py
        // triangle wave: a continuous gradient under any pan offset
        val tri = math.abs(Math.floorMod(u + v, 512) - 256)
        var inObj = -1
        var j = 0
        while (j < nObj) {
          val dx = Math.floorMod(x - ox(j), w); val dy = Math.floorMod(y - oy(j), h)
          if (dx < 96 && dy < 64) { inObj = j; j = nObj }
          j += 1
        }
        val p = (y * w + x) * 3
        var c = 0
        if (inObj < 0) {
          val n = noise(u >> 2, v >> 2, sh)
          while (c < 3) {
            data(p + c) = (a(c) + (b(c) - a(c)) * tri / 256 + n).toByte
            c += 1
          }
        } else {
          val n = noise(Math.floorMod(x - ox(inObj), w) >> 1,
            Math.floorMod(y - oy(inObj), h) >> 1, sh + inObj + 1)
          while (c < 3) { data(p + c) = (obj(c) + n).toByte; c += 1 }
        }
        x += 1
      }
      y += 1
    }
    FrameElem(stream, index, h, w, 3, FrameType.U8, data)
  }

  /** BT.601 luma of a U8 RGB frame, the same integer form the H.264 codec
    * uses on encode */
  def luma(f: FrameElem): Array[Int] = {
    val n = f.height * f.width
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val r = f.data(i * 3) & 0xff; val g = f.data(i * 3 + 1) & 0xff
      val bl = f.data(i * 3 + 2) & 0xff
      out(i) = (77 * r + 150 * g + 29 * bl + 128) >> 8
      i += 1
    }
    out
  }
}

/** Text corpus with planted near-duplicate chains, shared boilerplate
  * passages and a Zipfian vocabulary.
  *
  * Ids are laid out in blocks of 32. A block holds planted clusters
  * (chains whose member m is member m-1 with one more token substituted)
  * and singleton documents. The cluster id of a document is the id of its
  * chain's first member, which is also the label connected components must
  * assign to it.
  */
object CorpusGen {
  import Mix._

  val Block      = 32
  val Vocab      = 20000
  val Passages   = 6
  val PassageLen = 14

  /** cumulative Zipf(s = 1) mass over word ranks 1..Vocab */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Vocab)(r => 1.0 / (r + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def zipfRank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(Vocab - 1, if (i >= 0) i else -i - 1)
  }

  /** a pronounceable word per rank, distinct for distinct ranks */
  private def word(rank: Int): String = {
    val cons = "bcdfghjklmnprstvz"; val vows = "aeiou"
    val sb = new StringBuilder
    var r = rank
    do {
      sb.append(cons(r % cons.length)); r /= cons.length
      sb.append(vows(r % vows.length)); r /= vows.length
    } while (r > 0)
    sb.toString
  }

  /** Units of a block: chains of 2, 2, 3 and 4 members, one chain whose
    * size cycles 4, 6, 10, 16 over consecutive blocks, and singletons.
    * The seed only shuffles where they sit, so every seed gives the same
    * amount of work. Returns the (start offset, size) of each unit.
    */
  private def blockUnits(seed: Long, block: Long): Seq[(Int, Int)] = {
    val chains = Seq(2, 2, 3, 4, Seq(4, 6, 10, 16)((block % 4).toInt))
    val units = new scala.util.Random(hash(seed, block))
      .shuffle(chains ++ Seq.fill(Block - chains.sum)(1))
    units.zip(units.scanLeft(0)(_ + _)).map { case (size, at) => (at, size) }
  }

  /** (cluster id, member number) of `id` */
  private def place(seed: Long, id: Long): (Long, Int) = {
    val block = id / Block; val o = (id % Block).toInt
    val (at, _) = blockUnits(seed, block).find { case (a, n) => o >= a && o < a + n }.get
    (block * Block + at, o - at)
  }

  /** planted cluster id of `id` (its own id for a singleton) */
  def clusterOf(seed: Long, id: Long): Long = place(seed, id)._1

  /** index of the boilerplate passage a cluster carries, or -1: one seeded
    * unit per block carries one of the passages */
  def passageOf(seed: Long, cluster: Long): Int = {
    val block = cluster / Block
    val units = blockUnits(seed, block)
    val (at, _) = units(below(hash(seed, block, 3L), units.size))
    if (block * Block + at == cluster) below(hash(seed, block, 4L), Passages) else -1
  }

  /** boilerplate passage tokens: words outside the Zipf vocabulary */
  def passage(seed: Long, p: Int): Array[String] =
    Array.tabulate(PassageLen)(i => "bp" + p + "x" + below(hash(seed, 900L + p, i), 1000))

  def text(seed: Long, id: Long): String = {
    val (cluster, member) = place(seed, id)
    val hb  = hash(seed, cluster, 5L)
    val len = 120 + below(hb, 41)
    val toks = Array.tabulate(len)(i => word(zipfRank(unit(hash(hb, 6L, i)))))
    // chain edits: member m carries the substitutions of steps 1..m
    var s = 1
    while (s <= member) {
      val he = hash(hb, 7L, s)
      toks(below(he, len)) = word(zipfRank(unit(hash(he, 8L))))
      s += 1
    }
    val p = passageOf(seed, cluster)
    val out =
      if (p < 0) toks
      else {
        val at = below(hash(hb, 9L), len)
        (toks.take(at) ++ passage(seed, p)) ++ toks.drop(at)
      }
    out.mkString(" ")
  }

  /** seeded BM25 query ids: documents that survive dedup (cluster heads and
    * singletons) */
  def queries(seed: Long, nDocs: Long, n: Int): Seq[Long] =
    Iterator.from(0).map(i => Math.floorMod(hash(seed, 11L, i), nDocs))
      .filter(id => clusterOf(seed, id) == id)
      .distinct.take(n).toSeq.sorted
}
