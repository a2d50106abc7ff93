package graft

import org.apache.spark.sql.functions.{col, element_at, lit, shiftright}

import graft.functions.Dedup
import graft.model.Boundary
import graft.operators.SequenceOps

/** Ground-truth models for the three hardest operators — randomized,
  * fixed-seed. The existing specs pin hand-picked cases and
  * implementation-vs-implementation parity (halo vs explode, bucketed vs
  * window); here each result is checked against an independent brute-force
  * model, so a shared bug in both plans cannot hide.
  */
class RandomizedModelSpec extends SparkSpec {
  import spark.implicits._

  // one independent fixed-seed stream PER TEST: a shared stream couples
  // every test's cases to file order, so inserting a test silently
  // changes all later tests' coverage (that shift is how the stencil
  // one-sided-offset bug surfaced — now each test owns its cases)
  private def seeded(seed: Int) = new scala.util.Random(seed)

  test("asofJoin matches the brute-force latest-at-or-before model on random sparse streams") {
    val rnd = seeded(1234)
    (1 to 6).foreach { it =>
      val nStreams = 1 + rnd.nextInt(3)
      val left = for {
        s <- 0L until nStreams.toLong
        i <- 0L until (20 + rnd.nextInt(120)).toLong
      } yield (s, i, s * 10000 + i)
      // sparse right side with random gaps; may start after the left does
      val right = for {
        s <- 0L until nStreams.toLong
        i <- 0L until 200L
        if rnd.nextInt(10) == 0
      } yield (s, i, s * 100 + i * 3)
      val rightByStream = right.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      val expect = left.map { case (s, i, v) =>
        val snap = rightByStream.getOrElse(s, Seq.empty)
          .takeWhile(_._2 <= i).lastOption.map(_._3)
        (s, i, v, snap)
      }.sortBy(t => (t._1, t._2))
      // random small bucket width exercises carry across many empty buckets
      val bw = 1L << (2 + rnd.nextInt(6))
      val got = SequenceOps.asofJoin(
        left.toDF(SequenceOps.STREAM, SequenceOps.INDEX, "v"),
        right.toDF(SequenceOps.STREAM, SequenceOps.INDEX, "snap"),
        bucketWidth = bw)
        .collect()
        .map(r => (r.getAs[Long](SequenceOps.STREAM), r.getAs[Long](SequenceOps.INDEX),
          r.getAs[Long]("v"),
          if (r.isNullAt(r.fieldIndex("snap"))) None else Some(r.getAs[Long]("snap"))))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got == expect, s"iteration $it bucketWidth=$bw")
    }
  }

  test("NB classifier matches the brute-force multinomial model on random corpora") {
    val rnd = seeded(1235)
    import graft.functions.NaiveBayes
    (1 to 4).foreach { it =>
      val nClasses = 2 + rnd.nextInt(3)
      val vocabPool = ('a' to 'j').map(_.toString)
      val docs = (0L until (20 + rnd.nextInt(40)).toLong).map { i =>
        val cls = s"c${rnd.nextInt(nClasses)}"
        val toks = Seq.fill(1 + rnd.nextInt(8))(vocabPool(rnd.nextInt(vocabPool.size)))
        (i, toks.mkString(" "), cls)
      }
      // brute-force model: counts -> add-one-smoothed log-likelihood argmax
      val byTok   = docs.flatMap { case (i, t, c) => t.split("\\s+").map(tok => (i, c, tok)) }
      val tokCls  = byTok.groupBy(r => (r._2, r._3)).view.mapValues(_.size.toLong).toMap
      val totCls  = byTok.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val vocab   = byTok.map(_._3).distinct.size.toLong
      val classes = docs.map(_._3).distinct.sorted
      val prior   = classes.map(c =>
        c -> docs.count(_._3 == c).toDouble / docs.size).toMap
      // score every class; near-ties (sum-order float noise between the
      // two implementations) accept any class within 1e-9 of the best
      val scoresByDoc = docs.map { case (i, t, _) =>
        val toks = t.split("\\s+").toSeq
        i -> classes.map { c =>
          c -> (math.log(prior(c)) -
            toks.size * math.log((totCls(c) + vocab).toDouble) +
            toks.map(tok => math.log(tokCls.getOrElse((c, tok), 0L) + 1d)).sum)
        }.toMap
      }.toMap
      val got = NaiveBayes.trainScorePredict(
          docs.toDF("doc_id", "text", "cls"), "doc_id", "text", "cls")
        .collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
      CacheScope.release()
      got.foreach { case (i, pred) =>
        val scores = scoresByDoc(i)
        val best   = scores.values.max
        assert(scores(pred) >= best - 1e-9,
          s"iteration $it doc $i: predicted $pred (${scores(pred)}) vs best $best")
      }
    }
  }

  test("stencil matches the brute-force window model over random offsets and boundary modes") {
    val rnd = seeded(1236)
    (1 to 6).foreach { it =>
      val n = (30 + rnd.nextInt(120)).toLong
      val nOff = 1 + rnd.nextInt(4)
      val offsets = Seq.fill(nOff)(rnd.nextInt(9) - 4).distinct.sorted
      val boundary = if (it % 2 == 0) Boundary.RepeatEdge else Boundary.NullFill
      val rows = for (s <- 0L until 2L; i <- 0L until n) yield (s, i, s * 1000 + i * 13 % 251)
      val byKey = rows.map(r => (r._1, r._2) -> r._3).toMap
      val expect = rows.map { case (s, i, _) =>
        val win = offsets.map { o =>
          val src = i + o
          boundary match {
            case Boundary.RepeatEdge =>
              Some(byKey((s, math.max(0L, math.min(n - 1, src)))))
            case _ => byKey.get((s, src))
          }
        }
        (s, i, win)
      }.sortBy(t => (t._1, t._2))
      // small bucket width forces halo traffic across many bucket borders
      val got = SequenceOps.stencil(
        rows.toDF(SequenceOps.STREAM, SequenceOps.INDEX, "v"),
        offsets, "v", boundary, bucketWidth = 16)
        .select(Seq(col(SequenceOps.STREAM), col(SequenceOps.INDEX)) ++
          offsets.indices.map(j => element_at(col("window"), j + 1).as(s"w$j")): _*)
        .collect()
        .map { r =>
          val win = offsets.indices.map(j =>
            if (r.isNullAt(2 + j)) None else Some(r.getLong(2 + j))).toSeq
          (r.getLong(0), r.getLong(1), win)
        }
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got == expect, s"iteration $it offsets=$offsets boundary=$boundary")
    }
  }

  test("minhash signatures match a brute-force MessageDigest model on random docs") {
    val rnd = seeded(1237)
    // independent md5 path (java.security vs the plan's codegen'd Md5),
    // independent hex parse (BigInt vs the plan's conv), independent
    // shingle/slot/min logic — validates the explode + hash-agg plumbing,
    // the distinct fold, and the universal-hash slot family
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    import graft.functions.Dedup.{minhashP, slotA, slotB}
    def slotHash(slot: Int, sh: String): Long = {
      val xm = BigInt(md5hex(sh).take(15), 16).toLong % minhashP
      (slotA(slot) * xm + slotB(slot)) % minhashP
    }
    val vocab = Seq("spark", "scan", "row", "key", "agg", "the", "a")
    (1 to 4).foreach { it =>
      val docs = (0L until 30L).map { id =>
        (id, Seq.fill(2 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val k = 4
      val expect = (for {
        (id, text) <- docs
        toks = text.split("\\s+").toSeq
        if toks.size >= 2
        slot <- 0 until k
      } yield {
        val shingles = toks.zip(toks.tail).map { case (x, y) => s"$x $y" }
        (id, slot.toLong, shingles.map(sh => slotHash(slot, sh)).min)
      }).sortBy(t => (t._1, t._2))
      val got = graft.functions.Dedup
        .minhashSignatures(docs.toDF("doc_id", "text"), "doc_id", "text", k)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("slot"), r.getAs[Long]("mh")))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got == expect, s"iteration $it")
    }
  }

  test("connectedComponents matches union-find on random graphs") {
    val rnd = seeded(1238)
    (1 to 5).foreach { it =>
      val n = 20 + rnd.nextInt(80)
      val nodes = (0L until n.toLong)
      val edges = Seq.fill(rnd.nextInt(n))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      // union-find model
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = nodes.map(i => (i, {
        // min id in the component = the union-find root under min-merge
        find(i.toInt).toLong
      })).sortBy(_._1)
      def got = Dedup.connectedComponents(
        nodes.map(Tuple1(_)).toDF("doc_id"),
        if (edges.isEmpty) Seq((-1L, -2L)).toDF("a", "b") // foreign edge: drops
        else edges.toDF("a", "b"),
        "doc_id", maxIters = 30)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("cluster")))
        .sortBy(_._1).toSeq
      assert(got == expect, s"iteration $it n=$n edges=${edges.size}")
      // the same model on the distributed backend
      graft.functions.GraphLoop.localEdgeLimit.withValue(0L) {
        assert(got == expect, s"distributed: iteration $it n=$n edges=${edges.size}")
      }
    }
  }

  test("bandedHammingPairs matches brute-force Hamming for distance <= maxHamming (pigeonhole)") {
    val rnd = seeded(1239)
    import graft.functions.Dedup
    (1 to 5).foreach { it =>
      val n = 30 + rnd.nextInt(30)
      val hashes = (0L until n.toLong).map { i =>
        // clusters of near hashes: base values with a few flipped bits
        val base = rnd.nextInt(4).toLong * 0x123456789abcL
        val noise = (0 until rnd.nextInt(4)).foldLeft(0L)((acc, _) =>
          acc | (1L << rnd.nextInt(64)))
        (i, base ^ noise)
      }
      val keyed = hashes.toDF("id", "h")
        .select(col("id"), org.apache.spark.sql.functions.array((0 until 4).map(b =>
          shiftright(col("h"), b * 16).bitwiseAND(lit(0xffffL))): _*).as("bands"))
      val got = Dedup.bandedHammingPairs(keyed, maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        (a, ha) <- hashes; (b, hb) <- hashes if a < b
        d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
      } yield (a, b, d.toLong)).toSet
      assert(got == want, s"iteration $it n=$n")
    }
  }

  test("winnowFingerprints matches the brute-force winnowing model on random corpora") {
    val rnd = seeded(1240)
    import graft.functions.TextFunctions
    def polyHash(s: String): Long = {
      var acc = 0L
      s.codePoints().forEach(cp => acc = (acc * 31 + cp) % 2147483647L)
      acc
    }
    def model(text: String, k: Int, w: Int): Seq[Long] = {
      val toks  = text.trim.split("\\s+").toSeq
      val th    = toks.map(polyHash)
      val grams = th.sliding(k).filter(_.size == k)
        .map(_.reduceLeft((a, b) => (a * 31 + b) % 2147483647L)).toSeq
      val mins =
        if (grams.isEmpty) Seq.empty
        else if (grams.size < w) Seq(grams.min)
        else grams.sliding(w).map(_.min).toSeq
      mins.distinct.sorted
    }
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    (1 to 8).foreach { it =>
      val k = 2 + rnd.nextInt(2)  // 2..3
      val w = 2 + rnd.nextInt(3)  // 2..4
      val docs = (0 until 20).map { i =>
        val n = rnd.nextInt(12) // includes too-short and empty docs
        (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val got = docs.toDF("doc_id", "text")
        .select(col("doc_id"), TextFunctions.winnowFingerprints(col("text"), k, w).as("fps"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      docs.foreach { case (id, text) =>
        assert(got(id) == model(text, k, w),
          s"iteration $it k=$k w=$w doc=$id text='$text'")
      }
    }
  }

  test("removeDuplicatedWindows matches the brute-force cut model on random corpora") {
    val rnd = seeded(1241)
    (1 to 4).foreach { it =>
      val n     = 3 + rnd.nextInt(3) // window width 3..5
      val vocab = Vector("a", "b", "c", "d", "e", "f")
      val docs = (0L until (8 + rnd.nextInt(8)).toLong).map { id =>
        val len = rnd.nextInt(25) // includes sub-window docs
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // brute-force model: windows by position, cross-doc dup set, cut
      // every token covered by a duplicated window. split of "" yields
      // Seq("") — mirroring the engine's tokenizer exactly
      val tokExact = docs.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }.toMap
      val wins = tokExact.toSeq.flatMap { case (id, tk) =>
        if (tk.size < n) Seq.empty
        else tk.sliding(n).zipWithIndex.map { case (w, p) => (id, p, w.mkString(" ")) }.toSeq
      }
      val dup = wins.map { case (id, _, w) => (id, w) }.distinct
        .groupBy(_._2).filter(_._2.size > 1).keySet
      val expect = docs.map { case (id, _) =>
        val tk = tokExact(id)
        val starts = wins.collect { case (`id`, p, w) if dup(w) => p }
        val kept = tk.zipWithIndex.collect {
          case (t, i) if !starts.exists(p => p <= i && i < p + n) => t
        }
        (id, kept.mkString(" "), tk.size.toLong, (tk.size - kept.size).toLong)
      }.sortBy(_._1)
      val got = Dedup.removeDuplicatedWindows(docs.toDF("doc_id", "text"), "doc_id", "text", n)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(got == expect, s"iteration $it n=$n")
    }
  }

  test("ngramContamination matches the brute-force gram-overlap model on random corpora") {
    val rnd = seeded(977)
    (1 to 5).foreach { it =>
      val vocab = Vector("a", "b", "c", "d", "e")
      def doc() = (0 until (4 + rnd.nextInt(10)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val n = 3
      val train = (0L until 30L).map(i => (i, doc()))
      val bench = (100L until (100L + 5 + rnd.nextInt(5))).map(i => (i, doc()))
      def grams(t: String) = t.split(" ").sliding(n)
        .filter(_.length == n).map(_.mkString(" ")).toSet
      val bg = bench.map { case (id, t) => id -> grams(t) }
      val expect = train.flatMap { case (id, t) =>
        val g = grams(t)
        val wits = bg.filter { case (_, gs) => (g & gs).nonEmpty }
        if (wits.isEmpty) None
        else Some((id, wits.map(_._1).min,
          wits.map { case (_, gs) => (g & gs).size.toLong }.sum))
      }.sortBy(_._1)
      val got = Dedup.ngramContamination(train.toDF("doc_id", "text"),
          bench.toDF("doc_id", "text"), "doc_id", "text", n)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(got == expect, s"iteration $it")
    }
  }

  test("LangModel.crossEntropy matches the brute-force smoothed-bigram model on random corpora") {
    val rnd = seeded(4881)
    (1 to 4).foreach { it =>
      val vocab = Vector("a", "b", "c", "d")
      val docs = (0L until 20L).map(i => (i, (0 until (1 + rnd.nextInt(8)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      val bigrams = docs.flatMap { case (id, t) =>
        t.split(" ").toSeq.sliding(2).filter(_.length == 2)
          .map(p => (id, p(0), p(1)))
      }
      val c2 = bigrams.groupBy(b => (b._2, b._3)).view.mapValues(_.size).toMap
      val c1 = bigrams.groupBy(_._2).view.mapValues(_.size).toMap
      val v = c1.size
      val expect = bigrams.groupBy(_._1).map { case (id, bs) =>
        val nll = bs.map { case (_, pr, cu) =>
          -math.log((c2((pr, cu)) + 1.0) / (c1(pr) + v)) }
        (id, bs.size.toLong, nll.sum / nll.size)
      }.toSeq.sortBy(_._1)
      val got = graft.functions.LangModel
        .crossEntropy(docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      CacheScope.release()
      // ids + bigram counts exact; entropy within the 6-dp grid (the
      // engine rounds after a partition-ordered sum, the model doesn't)
      assert(got.map(t => (t._1, t._2)) == expect.map(t => (t._1, t._2)),
        s"iteration $it")
      got.zip(expect).foreach { case (g, e) =>
        assert(math.abs(g._3 - e._3) <= 1e-6, s"doc ${g._1} iteration $it") }
    }
  }
}
