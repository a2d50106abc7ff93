package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.CacheScope

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. All are expression + shuffle plans (no
  * driver materialization, no UDFs):
  *
  *  - exact:      one hash aggregation on the fingerprint
  *  - minhash:    narrow per-row signature (array expr), then one
  *                band-key self-join — the classic shingle→minhash→band→
  *                bucket-join pipeline; at 100 TB the band join is the only
  *                shuffle and AQE handles bucket skew
  *  - simhash:    narrow per-row 16-bit signature; near-dup = same signature
  *  - jaccard:    candidate generation by cheap bucket key, then exact
  *                set-overlap on candidates only (never all-pairs)
  *
  * Hash choice: md5 as the one strong hash (deterministic, available in
  * every engine), k universal multiply-add-mod slot hashes derived from
  * its leading 60 bits (see [[minhashSlot]]). This keeps signatures
  * reproducible across engines for the correctness oracle while paying
  * only one strong hash per shingle.
  */
object Dedup {

  /** exact duplicate groups by normalized-text fingerprint */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep"))

  /** The MATERIALIZED dedup: ids surviving exact dedup (lowest id per
    * fingerprint group) — what a pipeline actually joins against to drop
    * duplicates. One hash aggregation; at 100 TB the downstream drop is a
    * semi-join on this (small) keeper set.
    */
  def dedupedIds(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), md5(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))

  /** Connected components over a near-dup pair graph: label every node
    * with the minimum id reachable through pairs — the step that turns
    * pairwise candidates into keep-one-per-cluster decisions. Min-label
    * propagation with double pointer jumping: each round takes the min
    * over neighbor labels (one edge hop), then twice replaces each label
    * with its label's label (path compression), so resolved label
    * distance grows ~4x per round and the loop converges in
    * ~ceil(log4(diameter)) + 1 driver-synchronous rounds.
    *
    * The rounds run on [[GraphLoop]], not as a Catalyst plan per round:
    * node ids are dictionary-encoded to dense longs once (in natural id
    * order, so min-code ≡ min-id and decoded labels are bit-identical to a
    * DataFrame min), and the engine runs the round in one task for a small
    * duplicate subgraph or as co-partitioned long-pair RDDs otherwise.
    *
    * The driver issues ONE job per round on the distributed backend and
    * one job in total in-task, each labelled `cc-round`. Pass
    * `checkpointDir` (an HDFS/S3 path on a real cluster) for reliable
    * per-round lineage truncation that survives executor loss; without one
    * each round's labels persist MEMORY_AND_DISK and the loop releases the
    * previous round's blocks explicitly.
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      idCol: String, maxIters: Int = 20,
      checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsWithStats(nodes, pairs, idCol, maxIters,
      checkpointDir)._1

  /** [[connectedComponents]] plus the number of driver-synchronous rounds
    * the loop ran — the convergence-envelope observable: with one
    * edge-hop propagation and two pointer jumps per round, resolved label
    * distance grows ~4x per round, so rounds should track
    * ceil(log4(diameter)) + 1. The bt_1m_cc bench row and the DedupSpec
    * long-chain pin assert exactly that.
    */
  def connectedComponentsWithStats(nodes: DataFrame, pairs: DataFrame,
      idCol: String, maxIters: Int = 20,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}

    val spark = nodes.sparkSession
    // reliable (HDFS/S3) checkpointing survives executor loss mid-loop;
    // without a dir the loop persists each round's pair RDD instead
    // (executor-local blocks — fine on local[N], lossy on a real cluster)
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)

    val nodeIds = CacheScope.cache(nodes.select(col(idCol).as("id")).distinct())
    // contract: label exactly the given nodes — edges touching ids outside
    // `nodes` are dropped (both endpoints must be present), so no phantom
    // rows and every node's own id is always a candidate label
    // cached: consumed once to derive paired/dict and again to build
    // edgesR — without the cache the caller's `pairs` plan (the LSH band
    // self-join in the dedup pipelines) would evaluate twice
    val edgesDf = CacheScope.cache(pairs.select(col("a"), col("b"))
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      .join(nodeIds.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
      .join(nodeIds.withColumnRenamed("id", "b"), Seq("b"), "left_semi"))
    // the loop only touches nodes that occur in an edge: a singleton can
    // never change label, so it never enters a round. At corpus scale the
    // iteration runs over the (tiny) duplicate subgraph, not all of
    // `nodes`; singletons rejoin at the end with self-labels.
    val paired = CacheScope.cache(nodeIds
      .join(edgesDf.select(col("a").as("id")).distinct(), Seq("id"), "left_semi"))

    // Dictionary-encode paired node ids to dense longs IN NATURAL ID ORDER:
    // code order mirrors id order, so the min-code fixpoint decodes to
    // exactly the min-id labels the callers' oracles expect, for any
    // orderable id type (longs, md5 strings, ...). The count sizes the loop
    // partitioner to the duplicate SUBGRAPH; it is a cached-scan job that
    // also materializes the paired cache — and the whole upstream pair
    // plan — exactly once.
    val idField = StructField("id", nodeIds.schema.head.dataType, nodeIds.schema.head.nullable)
    val part = GraphLoop.partitioner(spark, paired.count())

    // The dict has two representations by subgraph size:
    //  - P == 1 (≤ 50k paired ids by partitioner construction): the
    //    ordered ids COLLECT to the driver once; codes are array indices,
    //    the encode map broadcasts, and decode is an array lookup — no
    //    sort exchange, no zipWithIndex pre-job, no dict cache, and no
    //    encode/decode joins. The ordering comes from the same Spark
    //    orderBy, so code order (hence every min-code fixpoint) is
    //    identical to the distributed dict's.
    //  - P > 1: the distributed dict (sort + zipWithIndex).
    // the driver-side dict keys a java.util.HashMap on raw row values:
    // BinaryType ids surface as Array[Byte], which hashes/compares by
    // REFERENCE — every lookup would miss and NPE. Ids containing binary
    // anywhere take the distributed dict (which handles any orderable id
    // type); everything else Spark returns as value-equal JVM objects.
    def valueEqual(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.BinaryType => false
      case org.apache.spark.sql.types.ArrayType(et, _) => valueEqual(et)
      case org.apache.spark.sql.types.StructType(fs) => fs.forall(f => valueEqual(f.dataType))
      case org.apache.spark.sql.types.MapType(k, v, _) => valueEqual(k) && valueEqual(v)
      case _ => true
    }
    val localIds: Array[Any] =
      if (part.numPartitions == 1 && valueEqual(idField.dataType))
        paired.orderBy("id").collect().map(_.get(0))
      else null
    val dict: DataFrame =
      if (localIds != null) null
      else CacheScope.cache(spark.createDataFrame(
        paired.orderBy("id").rdd.zipWithIndex()
          .map { case (r, code) => Row(r.get(0), code) },
        StructType(Seq(idField, StructField("code", LongType, nullable = false)))))

    // edges keyed by source b: b's label flows to a (endpoints ⊆ paired by
    // the semi-joins above, so the dict lookups always hit)
    val (codes, edgesR): (RDD[(Long, Unit)], RDD[(Long, (Long, Long))]) =
      if (localIds != null) {
        val codeOf = new java.util.HashMap[Any, java.lang.Long](localIds.length * 2)
        localIds.zipWithIndex.foreach { case (v, i) => codeOf.put(v, i.toLong) }
        val bc = spark.sparkContext.broadcast(codeOf)
        (spark.sparkContext.parallelize(0L until localIds.length.toLong, 1).map(c => (c, ())),
          edgesDf.rdd.map(r => (bc.value.get(r.get(1)).longValue,
            (bc.value.get(r.get(0)).longValue, 1L))))
      } else
        (dict.select("code").rdd.map(r => (r.getLong(0), ())),
          edgesDf
            .join(dict.select(col("id").as("a"), col("code").as("ca")), Seq("a"))
            .join(dict.select(col("id").as("b"), col("code").as("cb")), Seq("b"))
            .select(col("cb"), col("ca")).rdd
            .map(r => (r.getLong(0), (r.getLong(1), 1L))))

    import GraphLoop.Min
    val res = GraphLoop.run(spark, codes, edgesR, part, "cc-round",
        checkpointDir.isDefined)(new GraphLoop.Program[Unit, Long] {
      def apply(o: GraphLoop.Ops[Unit]): o.N[Long] =
        o.converge(o.map(o.nodes)((id, _) => id), maxIters) { lab =>
          // min over own label and every neighbor's (one edge hop), then
          // two pointer jumps: path compression makes convergence
          // logarithmic in component diameter, and the second jump per
          // round halves the driver-synchronous rounds again
          val prop = o.update(lab, o.send(o.edges, lab, Min)((c, _) => c), Min) {
            (c, m, _) => math.min(c, m) }
          o.jump(o.jump(prop))
        }
    })
    // fail loudly rather than silently return non-converged labels (a
    // wrong keep-one-per-cluster decision would keep duplicates)
    if (res.unconverged > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters rounds")
    // decode back to the caller's id type — an array lookup over the
    // broadcast driver dict at P == 1, two small dict joins otherwise;
    // singletons rejoin with self-labels. The returned relation reads the
    // final round's blocks + the cached node relations — they live until
    // the caller's CacheScope.release().
    val decoded =
      if (localIds != null) {
        val bcIds = spark.sparkContext.broadcast(localIds)
        spark.createDataFrame(
          res.values.map { case (i, c) =>
            Row(bcIds.value(i.toInt), bcIds.value(c.toInt)) },
          StructType(Seq(idField,
            StructField("cluster", idField.dataType, idField.nullable))))
      } else {
        val labDf = spark.createDataFrame(
          res.values.map { case (i, c) => Row(i, c) },
          StructType(Seq(StructField("code", LongType, nullable = false),
            StructField("ccode", LongType, nullable = false))))
        labDf
          .join(dict, Seq("code"))
          .join(dict.select(col("code").as("ccode"), col("id").as("cluster")), Seq("ccode"))
          .select(col("id"), col("cluster"))
      }
    val singletons = nodeIds.join(paired, Seq("id"), "left_anti")
      .withColumn("cluster", col("id"))
    (decoded.unionByName(singletons), res.rounds)
  }

  /** MinHash hash model: ONE strong hash per shingle, k cheap universal
    * hashes derived from it (the shape Spark MLlib's MinHashLSH uses —
    * hashing is the dominant cost of minhash at corpus scale, and the
    * md5-per-(slot, shingle) formulation paid k strong hashes where one
    * suffices; measured 3.1x on the lsh-pairs bench at k=8):
    *
    *   x    = first 60 bits of md5(shingle)   (15 hex chars, cross-engine)
    *   xm   = x mod P
    *   h_i  = (A(i) * xm + B(i)) mod P        (pure codegen'd arithmetic)
    *
    * P = 4294967291 (largest 32-bit prime). A(i) in [1, 2^31) keeps
    * A(i)*xm < 2^63: never overflows Java longs and never trips DuckDB's
    * checked BIGINT arithmetic, so the oracle evaluates the identical
    * model. A/B derive from splitmix64/golden-ratio constants — fixed,
    * documented, reproducible across runs and engines.
    */
  private[graft] val minhashP = 4294967291L
  private[graft] def slotA(i: Int): Long =
    1L + Math.floorMod(0x9E3779B97F4A7C15L * (i + 1), 2147483647L)
  private[graft] def slotB(i: Int): Long =
    Math.floorMod(0xBF58476D1CE4E5B9L * (i + 1), minhashP)

  /** strong-hash residue of one shingle: (first 60 bits of md5) mod P */
  private def shingleXm(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long") % minhashP

  /** MinHash signature slot: min over shingles of the universal slot hash */
  def minhashSlot(shinglesCol: Column, slot: Int): Column =
    array_min(transform(shinglesCol, s =>
      (lit(slotA(slot)) * shingleXm(s) + lit(slotB(slot))) % minhashP))

  /** (id, DISTINCT shingle-array) with tokens/shingles materialized as real
    * columns: CollapseProject keeps a non-cheap producer referenced more
    * than once as its own projection, so the token split runs once per row
    * no matter how many slot expressions consume it. The distinct fold is
    * free correctness-wise (min over a multiset of hashes = min over its
    * set) and shrinks every downstream md5 by the duplicate factor — on
    * real corpora repeated n-grams ("of the", boilerplate) are a large
    * share of the stream; it is also exactly the set the Jaccard verify
    * step needs, so [[ngramJaccardPairs]] shares this one relation.
    */
  private def withShingles(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.withColumn("__toks", TextFunctions.tokens(col(textCol)))
      .filter(size(col("__toks")) >= 2)
      .select(col(idCol),
        array_distinct(TextFunctions.shinglesFromTokens(col("__toks"), 2)).as("__sh"))

  /** Wide-format signatures (id, __m0..__m(k-1)) — the minhash compute
    * core. Shingles EXPLODE into rows so the one md5 per shingle is a
    * plain codegen'd column expression and the per-slot mins fold in one
    * map-side-combining hash aggregate; the `array_min(transform(...))`
    * formulation computes the same values but makes interpreted HOF passes
    * per document (lambda machinery per element — measured ~2x slower at
    * bench scale). The k slot hashes are the universal-hash family above:
    * the strong hash runs ONCE per shingle, each slot adds only a
    * multiply-add-mod.
    */
  private def slotMinsFromShingles(sh: DataFrame, idCol: String, k: Int): DataFrame = {
    val hashes = (0 until k).map(i =>
      ((lit(slotA(i)) * col("__xm") + lit(slotB(i))) % minhashP).as(s"__h$i"))
    val mins = (0 until k).map(i => min(col(s"__h$i")).as(s"__m$i"))
    sh.select(col(idCol), explode(col("__sh")).as("__s"))
      .select(col(idCol), shingleXm(col("__s")).as("__xm"))
      .select(col(idCol) +: hashes: _*)
      .groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
  }

  private def slotMins(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    slotMinsFromShingles(withShingles(docs, idCol, textCol), idCol, k)

  /** Stateless per-row LSH band keys — `array<struct<band,bk>>` from a
    * DISTINCT-shingle array, value-identical to the batch band relation
    * ([[bandKeys]]: same universal-hash slots, same '|'-joined decimal
    * band key). The per-slot mins use the `array_min(transform(...))` HOF
    * formulation instead of the explode+aggregate — ~2x slower per row at
    * batch scale, but it is a pure row expression, which is exactly what
    * a STREAMING pipeline needs: no aggregation state, the banding rides
    * the arriving row. Input must be the distinct-shingle array (empty
    * arrays produce null mins — filter out sub-2-token docs first, as
    * the batch path does).
    */
  def bandKeyStructs(shinglesCol: Column, k: Int, rows: Int): Column = {
    require(k % rows == 0, "slots must divide into equal bands")
    TextFunctions.let(shinglesCol) { sh =>
      val mins = (0 until k).map(i => minhashSlot(sh, i))
      array((0 until k / rows).map { b =>
        struct(lit(b).as("band"),
          concat_ws("|",
            (0 until rows).map(r => mins(b * rows + r).cast("string")): _*).as("bk"))
      }: _*)
    }
  }

  /** the distinct-shingle array expression shared by batch and streaming
    * (2-token shingles over the whitespace tokenizer)
    */
  def shingleSet(textCol: Column): Column =
    array_distinct(TextFunctions.shinglesFromTokens(TextFunctions.tokens(textCol), 2))

  /** long-format MinHash signatures: (id, slot, mh), k slots per doc */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val sig = array((0 until k).map(i =>
      struct(lit(i.toLong).as("slot"), col(s"__m$i").as("mh"))): _*)
    slotMins(docs, idCol, textCol, k)
      .select(col(idCol), explode(sig).as("s"))
      .select(col(idCol), col("s.slot").as("slot"), col("s.mh").as("mh"))
  }

  /** (id, band, bk) band keys from a slot-min relation */
  private def bandKeys(mins: DataFrame, idCol: String, k: Int, rows: Int): DataFrame = {
    require(k % rows == 0, "slots must divide into equal bands")
    // band key = '|'-joined decimal slot mins: equality-preserving (fixed
    // slot order, unambiguous separator) and cheaper than hashing again
    val bands = (0 until k / rows).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|",
          (0 until rows).map(r => col(s"__m${b * rows + r}").cast("string")): _*).as("bk"))
    }
    mins.select(col(idCol).as("id"), explode(array(bands: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bk").as("bk"))
  }

  /** distinct (a, b), a < b sharing any (band, bk); expects `keyed` persisted */
  private def bandSelfJoinPairs(keyed: DataFrame): DataFrame = {
    val l = keyed.select(col("band"), col("bk"), col("id").as("a"))
    val r = keyed.select(col("band"), col("bk"), col("id").as("b"))
    l.join(r, Seq("band", "bk"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** LSH candidate pairs: docs sharing any band (band = `rows` consecutive
    * signature slots hashed together). Returns distinct (a, b), a < b.
    */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, rows: Int): DataFrame = {
    // band keys cost one md5 + k multiply-add-mods per shingle — persist so
    // the self-join's two sides (and distinct) reuse one computation
    val keyed = CacheScope.cache(bandKeys(slotMins(docs, idCol, textCol, k), idCol, k, rows))
    bandSelfJoinPairs(keyed)
  }

  /** The BUILD half of INCREMENTAL dedup: persist the corpus's LSH band
    * keys once as a bucketed (id, band, bk) table. A pretraining corpus
    * grows shard by shard — recomputing every historical signature per
    * arriving shard is the O(corpus) cost this kills: the minhash of an
    * already-indexed doc never changes, so it is data, not computation.
    * Bucketing by the join key co-locates each band key's postings; the
    * probe side (one shard) is small enough that its exchange is the only
    * shuffle the incremental path pays at 100 TB.
    */
  def lshWriteBandIndex(docs: DataFrame, idCol: String, textCol: String,
      k: Int, rows: Int, table: String, buckets: Int = 32): Unit = {
    val s = docs.sparkSession
    Similarity.prepareTableOverwrite(s, table)
    bandKeys(slotMins(docs, idCol, textCol, k), idCol, k, rows)
      .write.mode("overwrite")
      .bucketBy(buckets, "bk").sortBy("bk")
      .format("parquet")
      .saveAsTable(table)
  }

  /** The PROBE half: band the NEW shard only and equi-join against the
    * prebuilt index — no signature recomputation anywhere on the corpus
    * side (PlanSpec-pinned: the probe plan reads raw text exactly once).
    * Returns distinct (id, dup_of): new-shard docs colliding with an
    * indexed doc in any band — the drop set of incremental dedup. New
    * docs surviving the probe get [[lshCandidatePairs]] against each
    * other (within-shard dups) and their bands appended to the index;
    * `k`/`rows` must match the build call.
    */
  def lshProbeBandIndex(index: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String, k: Int, rows: Int): DataFrame = {
    val probe = bandKeys(slotMins(newDocs, idCol, textCol, k), idCol, k, rows)
    probe.select(col("band"), col("bk"), col("id").as("a"))
      .join(index.select(col("band"), col("bk"), col("id").as("b")), Seq("band", "bk"))
      .filter(col("a") =!= col("b"))
      .select(col("a").as("id"), col("b").as("dup_of"))
      .distinct()
  }

  private val hexDigits = "0123456789abcdef"

  /** 64-bit SimHash over whitespace tokens, as `64/bitsPerBand` band
    * values (columns band0..bandN; band b holds signature bits
    * [b*bitsPerBand, (b+1)*bitsPerBand), bit i of the band = signature bit
    * b*bitsPerBand+i). Signature bit j is the sign of the sum over tokens
    * of (2*bit_j(md5(token)) - 1), where bit_j of a token hash comes from
    * md5 hex nibble j/4, bit 3 - j%4.
    *
    * Bands, not a single long: (a) no signed-overflow trap at bit 63 in
    * either engine, (b) the bands ARE the Hamming-ball candidate index —
    * two docs within Hamming distance d of each other must agree exactly
    * on at least one band when d < #bands (pigeonhole), so candidate
    * lookup is an equi-join on (band, value), never an all-pairs scan.
    * Band width is the corpus-scale dial: 2^bitsPerBand buckets per band,
    * so choose bitsPerBand ≈ log2(|corpus|) to keep buckets near-unique
    * (fewer, wider bands = fewer candidates but smaller detectable
    * distance; 8×8 bits covers d<8 for small corpora, 4×16 bits covers
    * d<4 with 65536 buckets for large ones).
    */
  def simhash64Bands(docs: DataFrame, idCol: String, textCol: String,
      bitsPerBand: Int = 8): DataFrame = {
    require(64 % bitsPerBand == 0, s"bitsPerBand must divide 64, got $bitsPerBand")
    val nBands = 64 / bitsPerBand
    // fold repeated tokens first: the vote of a token appearing w times is
    // w * (±1) per bit, so aggregate (doc, token) -> weight, then hash each
    // DISTINCT token once — md5/nibble extraction and the 64 sum updates
    // run on the distinct-token relation, typically 2-3x smaller than the
    // raw token stream.
    //
    // ONE explicit exchange by id up front: hash(id) satisfies the
    // clustering of BOTH the (id, token) weight agg and the per-id 64-sum
    // signature agg, so neither plants its own exchange. Letting the
    // first agg shuffle by (id, token) instead left the signature agg
    // re-shuffling 65-column partials whose map-side combine saturates as
    // the corpus grows (sf0.1 -> sf1 telemetry: 40x shuffle for 10x docs
    // — every partition held nearly every doc's partial).
    val tokenW = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("t"))
      .repartition(col(idCol))
      .groupBy(col(idCol), col("t"))
      .agg(count(lit(1)).as("__w"))
      .select(col(idCol), col("__w"), md5(col("t")).as("m"))
    // nibble extraction by parsing the leading 16 hex chars as integers
    // (one 15-char parse + one 1-char parse) and shifting, instead of 16
    // per-nibble instr+substr string searches — same values, arithmetic
    // stays inside whole-stage codegen without per-nibble string scans
    val x1 = conv(substring(col("m"), 1, 15), 16, 10).cast("long")
    val x2 = conv(substring(col("m"), 16, 1), 16, 10).cast("long")
    val nibbles = (0 until 16).map { q =>
      val n = if (q < 15) shiftright(x1, 4 * (14 - q)).bitwiseAND(15) else x2
      n.cast("int").as(s"n$q")
    }
    val withN = tokenW.select(col(idCol) +: col("__w") +: nibbles: _*)
    val sums = (0 until 64).map { j =>
      val bit = (shiftright(col(s"n${j / 4}"), 3 - j % 4) % 2).cast("long")
      sum((bit * 2 - 1) * col("__w")).as(s"s$j")
    }
    val agg = withN.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
    val bands = (0 until nBands).map { b =>
      (0 until bitsPerBand).map(i =>
        when(col(s"s${bitsPerBand * b + i}") >= 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _).as(s"band$b")
    }
    agg.select(col(idCol) +: bands: _*)
  }

  /** 64-bit SimHash rendered as a 16-hex-char string (bit 63 leftmost) —
    * the cross-engine-stable signature representation.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sig = simhash64Bands(docs, idCol, textCol)
    val hex = concat((7 to 0 by -1).flatMap { b =>
      val hi = lit(hexDigits).substr(shiftright(col(s"band$b"), 4).cast("int") + 1, lit(1))
      val lo = lit(hexDigits).substr(col(s"band$b").bitwiseAND(15).cast("int") + 1, lit(1))
      Seq(hi, lo)
    }: _*)
    sig.select(col(idCol), hex.as("simhash"))
  }

  /** SimHash near-dup pairs via banded Hamming lookup: candidates = docs
    * agreeing exactly on >= 1 signature band (pigeonhole-complete for
    * Hamming distance < #bands); verify = exact 64-bit Hamming distance by
    * per-band xor popcount. One equi-join shuffle on (band, value) +
    * distinct + two narrow signature re-joins — no all-pairs anywhere.
    * `bitsPerBand` dials candidate volume to corpus size (see
    * [[simhash64Bands]]): buckets per band = 2^bitsPerBand, expected
    * random-collision candidates ≈ nBands * |corpus|² / 2^(bitsPerBand+1).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, bitsPerBand: Int = 16): DataFrame = {
    val nBands = 64 / bitsPerBand
    require(maxHamming < nBands,
      s"banded lookup over $nBands bands is complete only for distance < $nBands")
    val bandCols = (0 until nBands).map(b => col(s"band$b"))
    // signatures are md5-heavy to compute and referenced on both join
    // sides — persist the narrow (id, bands) relation (nBands longs per
    // doc) so Spark doesn't recompute the token aggregation per reference
    val keyed = CacheScope.cache(simhash64Bands(docs, idCol, textCol, bitsPerBand)
      .select(col(idCol).as("id"), array(bandCols: _*).as("bands")))
    bandedHammingPairs(keyed, maxHamming)
  }

  /** Banded-Hamming candidate pairs over ANY `(id, bands: array<long>)`
    * relation — the shared core of [[simhashPairs]] (text) and the image
    * aHash near-dup query: one (band, value) equi-join, full signature
    * riding the explode so scoring needs no re-join, exact Hamming as the
    * sum of per-band xor popcounts, cheap filter before the pair dedup.
    * Pigeonhole-complete for maxHamming < #bands.
    */
  def bandedHammingPairs(keyed: DataFrame, maxHamming: Int): DataFrame = {
    val exploded = keyed.select(col("id"), col("bands"), posexplode(col("bands")))
      .select(col("id"), col("pos").as("band"), col("col").as("bv"),
        col("bands")) // full signature rides along: no re-join to score
    val l = exploded.select(col("band"), col("bv"), col("id").as("a"), col("bands").as("ba"))
    val r = exploded.select(col("band"), col("bv"), col("id").as("b"), col("bands").as("bb"))
    val ham = aggregate(
      zip_with(col("ba"), col("bb"), (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, v) => acc + v)
    l.join(r, Seq("band", "bv"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), ham.as("hamming"))
      .filter(col("hamming") <= maxHamming) // cheap filter BEFORE the dedup shuffle
      .dropDuplicates("a", "b")             // hamming is equal across band-collision dups
  }

  /** Exact n-gram Jaccard, candidates from the MinHash LSH bands (same
    * generator as [[lshCandidatePairs]]) — a first-two-tokens bucket would
    * go quadratic on boilerplate prefixes ("the", "in the") at scale,
    * while band buckets are uniform by construction. Returns
    * (a, b, inter, uni, jac) for candidate pairs only.
    */
  /** Exact substring (token-window) duplication stats — the pretraining
    * dedup of Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better"): a span duplicated ACROSS documents is memorization
    * fuel even when the documents as wholes are unique, so the unit of
    * dedup is the n-token window, not the document. Per doc:
    * distinct n-token windows, how many of them also occur in another
    * document, and the duplicated fraction.
    *
    * Scale shape — everything is hash aggregation on 32-byte window
    * hashes, never on raw text: explode windows once, md5 each (shuffles
    * carry the hash, not the tokens), distinct (doc, hash) in one
    * map-side-combining agg, window→doc-count in a second, and one
    * equi-join of the per-doc stream against the (much smaller)
    * duplicated-window relation. No all-pairs, no driver materialization;
    * AQE turns the final join into a broadcast when the duplicated set is
    * small.
    */
  def duplicatedWindowStats(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 2, s"window width must be >= 2, got $n")
    val docWin = docs
      .withColumn("__toks", TextFunctions.tokens(col(textCol)))
      .filter(size(col("__toks")) >= n)
      .select(col(idCol),
        explode(TextFunctions.shinglesFromTokens(col("__toks"), n)).as("__w"))
      .select(col(idCol), md5(col("__w")).as("wh"))
      .distinct()
    CacheScope.cache(docWin) // feeds the per-doc count, the dup-set agg, and the join
    val dupWins = docWin.groupBy(col("wh"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
      .select(col("wh"))
    val perDoc = docWin.groupBy(col(idCol)).agg(count(lit(1)).as("n_windows"))
    val dupPerDoc = docWin.join(dupWins, Seq("wh"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup"))
    perDoc.join(dupPerDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_ratio",
        round(col("n_dup").cast("double") / col("n_windows").cast("double"), 6))
  }

  /** Substring-dedup span REMOVAL — the transform half of Lee et al. 2021:
    * [[duplicatedWindowStats]] measures cross-document window duplication;
    * this CUTS every occurrence of every duplicated n-token window and
    * emits the cleaned corpus (the paper's released pipeline also removes
    * ALL copies — keeping exactly one is a much harder global choice and
    * changes nothing for memorization). A window is duplicated iff it
    * occurs in MORE THAN ONE document (within-doc repetition alone is
    * repetition, not contamination — [[TextFunctions]] repetition scoring
    * covers it).
    *
    * Scale shape — same skeleton as the stats: windows shuffle as md5
    * hashes with their 1-based start positions, the duplicated-window set
    * comes from one distinct + one count agg, and each doc gets back only
    * the START POSITIONS of its duplicated windows (collect_list bounded
    * by the doc's own window count). The cut itself is a scan-pass HOF:
    * token i survives iff no duplicated window covering it starts at
    * p <= i < p+n. Output text is whitespace-normalized (single spaces) —
    * the tokenizer's view, identical on both engines.
    *
    * Returns (idCol, clean_text, n_tokens, n_cut) for EVERY input doc
    * (docs with no duplicated windows pass through with n_cut = 0).
    */
  def removeDuplicatedWindows(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 2, s"window width must be >= 2, got $n")
    val win = windowsWithPositions(docs, idCol, textCol, n)
    CacheScope.cache(win) // feeds the dup-set agg AND the per-doc start positions
    val dupWins = win.select(col(idCol), col("wh")).distinct()
      .groupBy(col("wh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
      .select(col("wh"))
    cutAtStarts(docs, win.join(dupWins, Seq("wh")), idCol, textCol, n)
  }

  /** [[removeDuplicatedWindows]] with the paper's other policy: remove all
    * but ONE occurrence of each duplicated window. The keeper is the
    * lexicographically smallest (doc, position) occurrence — a
    * deterministic global choice made by ONE min-struct aggregation per
    * duplicated window hash (no all-pairs, no ordering shuffle of the
    * corpus); every other occurrence's span is cut. A kept span can still
    * lose tokens to a DIFFERENT overlapping duplicated window's cut — the
    * same overlap property as the reference implementation's byte-range
    * cuts.
    */
  def removeDuplicatedWindowsKeepOne(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"window width must be >= 2, got $n")
    val win = windowsWithPositions(docs, idCol, textCol, n)
    CacheScope.cache(win) // dup-set agg + keeper argmin + start positions
    val dupWins = win.select(col(idCol), col("wh")).distinct()
      .groupBy(col("wh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
      .select(col("wh"))
    val dupOcc = win.join(dupWins, Seq("wh"))
    val keepers = dupOcc
      .groupBy(col("wh"))
      .agg(min(struct(col(idCol).as("kid"), col("p").as("kp"))).as("k"))
      .select(col("wh"), col("k.kid").as("__kid"), col("k.kp").as("__kp"))
    val cut = dupOcc.join(keepers, Seq("wh"))
      .filter(!(col(idCol) === col("__kid") && col("p") === col("__kp")))
    cutAtStarts(docs, cut, idCol, textCol, n)
  }

  /** (id, p, wh): every n-token window of every doc as (1-based start
    * position, md5 hash) — windows shuffle as fixed-width hashes, never
    * raw text
    */
  private def windowsWithPositions(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    docs
      .withColumn("__toks", TextFunctions.tokens(col(textCol)))
      .filter(size(col("__toks")) >= n)
      .select(col(idCol),
        posexplode(TextFunctions.shinglesFromTokens(col("__toks"), n)))
      .select(col(idCol), (col("pos") + 1).as("p"), md5(col("col")).as("wh"))

  /** cut every token covered by a window starting at one of `cutOcc`'s
    * (id, p) rows; emits (id, clean_text, n_tokens, n_cut) for EVERY
    * input doc — the shared tail of both removal policies
    */
  private def cutAtStarts(docs: DataFrame, cutOcc: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val starts = cutOcc
      .groupBy(col(idCol)).agg(collect_list(col("p")).as("__ps"))
    val cleaned = TextFunctions.let(TextFunctions.tokens(col(textCol))) { tk =>
      TextFunctions.let(filter(tk, (_, i) =>
        !exists(col("__ps"), p => p <= i + 1 && i + 1 < p + lit(n)))) { kept =>
        struct(
          concat_ws(" ", kept).as("clean_text"),
          size(tk).cast("long").as("n_tokens"),
          (size(tk) - size(kept)).cast("long").as("n_cut"))
      }
    }
    docs.join(starts, Seq(idCol), "left")
      .withColumn("__ps",
        coalesce(col("__ps"), array().cast("array<int>")))
      .withColumn("__c", cleaned)
      .select(col(idCol), col("__c.clean_text").as("clean_text"),
        col("__c.n_tokens").as("n_tokens"), col("__c.n_cut").as("n_cut"))
  }

  /** line split guarded for the empty doc: Spark's split("") yields [""]
    * (one phantom empty line) where the oracles' token-derived renderings
    * yield zero lines — an empty doc must render ZERO lines on both
    * engines (the rawLines zero-token guard's twin at the line layer)
    */
  private def splitLines(textCol: String, sepRe: String): Column =
    when(length(col(textCol)) > 0, split(col(textCol), sepRe))
      .otherwise(array().cast("array<string>"))

  /** CCNet-style paragraph dedup (Wenzek et al. 2020 §4.1: "we deduplicate
    * at the paragraph level ... keeping the first occurrence"): split each
    * doc on `sep`, hash every paragraph, keep exactly ONE occurrence of
    * each distinct paragraph corpus-wide (the lexicographically smallest
    * (doc, position) — a deterministic global choice), drop every other
    * occurrence, and reassemble the surviving paragraphs in document
    * order. Distinct from [[removeDuplicatedWindows]]: that cuts token
    * windows duplicated ACROSS docs (within-doc repetition is out of
    * scope there); this drops whole repeated paragraphs wherever they
    * recur — including within one document — which is what kills web
    * boilerplate (nav bars, cookie banners, footers).
    *
    * Scale shape — the skeleton the other dedup transforms share:
    * paragraphs shuffle as (md5, position) pairs, never raw text; the
    * keeper is ONE min-struct aggregation per hash (no all-pairs, no
    * global sort); each doc gets back only the POSITIONS it must drop
    * (collect_list bounded by the doc's own paragraph count); and the
    * rebuild is a scan-pass HOF over the re-split text. A boilerplate
    * paragraph repeated across the whole corpus is one hot hash in the
    * keeper agg — a map-side-combining count, not a join fan-out.
    *
    * Returns (idCol, clean_text, n_paras, n_dropped) for EVERY input doc;
    * a doc whose every paragraph is dropped emits clean_text = "".
    */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val occ = docs
      .select(col(idCol), posexplode(splitLines(textCol, sepRe)))
      .select(col(idCol), col("pos"), md5(col("col")).as("ph"))
    CacheScope.cache(occ) // feeds the keeper agg AND the per-doc drop list
    val keepers = occ.groupBy(col("ph"))
      .agg(min(struct(col(idCol).as("kid"), col("pos").as("kp"))).as("k"),
        count(lit(1)).as("nocc"))
      .filter(col("nocc") > 1) // unique paragraphs can't produce drops
      .select(col("ph"), col("k.kid").as("__kid"), col("k.kp").as("__kp"))
    val drops = occ.join(keepers, Seq("ph"))
      .filter(!(col(idCol) === col("__kid") && col("pos") === col("__kp")))
      .groupBy(col(idCol)).agg(collect_list(col("pos")).as("__dp"))
    val rebuilt = TextFunctions.let(splitLines(textCol, sepRe)) { ps =>
      TextFunctions.let(filter(ps, (_, i) =>
        !array_contains(col("__dp"), i))) { kept =>
        struct(
          concat_ws(sep, kept).as("clean_text"),
          size(ps).cast("long").as("n_paras"),
          (size(ps) - size(kept)).cast("long").as("n_dropped"))
      }
    }
    docs.join(drops, Seq(idCol), "left")
      .withColumn("__dp", coalesce(col("__dp"), array().cast("array<int>")))
      .withColumn("__c", rebuilt)
      .select(col(idCol), col("__c.clean_text").as("clean_text"),
        col("__c.n_paras").as("n_paras"), col("__c.n_dropped").as("n_dropped"))
  }

  /** C4 three-sentence-span dedup (Raffel et al. 2020 §2.2: "we discarded
    * all but one of any three-sentence span occurring more than once in
    * the data set"): slide a `span`-line window over each doc's lines,
    * hash every span, keep the lexicographically smallest (doc, position)
    * occurrence of each duplicated span, and drop the LINES covered by
    * every other occurrence. Distinct from [[dedupParagraphs]] (single
    * repeated paragraphs) and [[removeDuplicatedWindows]] (fixed token
    * windows): the span unit straddles sentence boundaries, so shared
    * boilerplate runs die wherever they recur — including inside one
    * document — while a sentence repeated in two unrelated contexts
    * survives (its flanking sentences differ, so no span matches).
    *
    * Scale shape — the [[dedupParagraphs]] skeleton: spans shuffle as
    * (md5, position) pairs, never text; the keeper is ONE min-struct
    * aggregation per span hash (a corpus-hot span is map-side combine,
    * not join fan-out); each doc receives only the line positions IT
    * must drop (bounded by span x its own span count); the rebuild is a
    * scan-pass HOF over the re-split text. Returns
    * (idCol, clean_text, n_lines, n_dropped) for EVERY input doc; docs
    * with fewer than `span` lines contribute no spans and pass through.
    */
  def c4SpanDedup(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", span: Int = 3): DataFrame = {
    require(span >= 2, s"span must be >= 2, got $span")
    val sepRe = java.util.regex.Pattern.quote(sep)
    val spans = CacheScope.cache(docs
      .select(col(idCol), explode(TextFunctions.let(splitLines(textCol, sepRe)) { ps =>
        when(size(ps) >= span,
          transform(sequence(lit(0), size(ps) - span), i =>
            struct(i.as("pos"),
              md5(concat_ws(sep, slice(ps, i + 1, lit(span)))).as("sh"))))
          .otherwise(array().cast("array<struct<pos:int,sh:string>>"))
      }).as("s"))
      .select(col(idCol), col("s.pos").as("pos"), col("s.sh").as("sh")))
    val keepers = spans.groupBy(col("sh"))
      .agg(min(struct(col(idCol).as("kid"), col("pos").as("kp"))).as("k"),
        count(lit(1)).as("nocc"))
      .filter(col("nocc") > 1) // unique spans can't produce drops
      .select(col("sh"), col("k.kid").as("__kid"), col("k.kp").as("__kp"))
    val drops = spans.join(keepers, Seq("sh"))
      .filter(!(col(idCol) === col("__kid") && col("pos") === col("__kp")))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(span - 1))).as("lp"))
      .groupBy(col(idCol)).agg(collect_set(col("lp")).as("__dp"))
    val rebuilt = TextFunctions.let(splitLines(textCol, sepRe)) { ps =>
      TextFunctions.let(filter(ps, (_, i) =>
        !array_contains(col("__dp"), i))) { kept =>
        struct(
          concat_ws(sep, kept).as("clean_text"),
          size(ps).cast("long").as("n_lines"),
          (size(ps) - size(kept)).cast("long").as("n_dropped"))
      }
    }
    docs.join(drops, Seq(idCol), "left")
      .withColumn("__dp", coalesce(col("__dp"), array().cast("array<int>")))
      .withColumn("__c", rebuilt)
      .select(col(idCol), col("__c.clean_text").as("clean_text"),
        col("__c.n_lines").as("n_lines"), col("__c.n_dropped").as("n_dropped"))
  }

  /** banded candidates joined back to both docs' shingle sets:
    * (a, b, sha, shb) — the shared verify base of [[ngramJaccardPairs]]
    * and [[ngramContainmentPairs]]. ONE persisted tokenize+shingle pass
    * feeds both phases: the minhash signature explode (candidate
    * generation) and the exact-set verify joins.
    */
  private def candidateShinglePairs(docs: DataFrame, idCol: String,
      textCol: String, k: Int, rows: Int): DataFrame = {
    val sh = CacheScope.cache(withShingles(docs, idCol, textCol))
    val keyed = CacheScope.cache(bandKeys(slotMinsFromShingles(sh, idCol, k), idCol, k, rows))
    val cands = bandSelfJoinPairs(keyed)
    val sets  = sh.select(col(idCol).as("id"), col("__sh").as("sh"))
    cands
      .join(sets.select(col("id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sets.select(col("id").as("b"), col("sh").as("shb")), Seq("b"))
  }

  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, rows: Int = 4): DataFrame =
    candidateShinglePairs(docs, idCol, textCol, k, rows)
      .select(col("a"), col("b"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("inter"),
        size(array_union(col("sha"), col("shb"))).cast("long").as("uni"))
      .withColumn("jac", col("inter").cast("double") / col("uni").cast("double"))

  /** Overlap-coefficient (asymmetric containment) near-dup pairs:
    * inter / min(|A|, |B|) over the same banded candidates as
    * [[ngramJaccardPairs]]. The asymmetry Jaccard can't see: a short doc
    * quoted whole inside a long one has a tiny union-dominated Jaccard
    * but overlap 1.0 — the quote/subset-duplication case pretraining
    * dedup cares about (Lee et al. 2021's containment framing). Same
    * scale shape: banded equi-join candidates, one persisted shingle
    * pass, never all-pairs — with the caveat (inherent to minhash) that
    * recall for low-Jaccard/high-containment pairs comes from the band
    * collisions the shared shingles still produce.
    */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, rows: Int = 4): DataFrame =
    candidateShinglePairs(docs, idCol, textCol, k, rows)
      .select(col("a"), col("b"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("inter"),
        size(col("sha")).cast("long").as("n_a"),
        size(col("shb")).cast("long").as("n_b"))
      .withColumn("ovl", col("inter").cast("double") /
        least(col("n_a"), col("n_b")).cast("double"))

  /** Boilerplate line removal (the CCNet / jusText site-template case):
    * a line is boilerplate iff it occurs in at least `minDocs` DISTINCT
    * documents of the SAME source — navigation, footers, cookie banners
    * are per-site templates, so the frequency key is (source, line),
    * not the corpus. Distinct from [[dedupParagraphs]] two ways: dedup
    * keeps the FIRST occurrence of any repeat, this drops EVERY
    * occurrence of a frequent line; and a rare cross-doc repeat (a quote
    * shared by two pages) is content here, not template, and survives.
    *
    * Scale shape: lines shuffle as (source, md5) pairs, never text; the
    * doc-frequency agg partially combines map-side; the frequent set is
    * small by construction (templates are few lines repeated many
    * times), so the drop join fans out only over template occurrences;
    * each doc receives positions-only drop lists; rebuild is a scan-pass
    * HOF over the re-split text. Returns
    * (idCol, clean_text, n_lines, n_bp) for EVERY input doc.
    */
  def boilerplateRemove(docs: DataFrame, idCol: String, srcCol: String,
      textCol: String, minDocs: Int = 3, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val sepRe = java.util.regex.Pattern.quote(sep)
    val occ = docs
      .select(col(idCol), col(srcCol), posexplode(splitLines(textCol, sepRe)))
      .select(col(idCol), col(srcCol), col("pos"), md5(col("col")).as("ph"))
    CacheScope.cache(occ) // feeds the frequency agg AND the drop join
    val bp = occ.groupBy(col(srcCol), col("ph"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col(srcCol), col("ph"))
    val drops = occ.join(bp, Seq(srcCol, "ph"))
      .groupBy(col(idCol)).agg(collect_list(col("pos")).as("__dp"))
    val rebuilt = TextFunctions.let(splitLines(textCol, sepRe)) { ps =>
      TextFunctions.let(filter(ps, (_, i) =>
        !array_contains(col("__dp"), i))) { kept =>
        struct(
          concat_ws(sep, kept).as("clean_text"),
          size(ps).cast("long").as("n_lines"),
          (size(ps) - size(kept)).cast("long").as("n_bp"))
      }
    }
    docs.join(drops, Seq(idCol), "left")
      .withColumn("__dp", coalesce(col("__dp"), array().cast("array<int>")))
      .withColumn("__c", rebuilt)
      .select(col(idCol), col("__c.clean_text").as("clean_text"),
        col("__c.n_lines").as("n_lines"), col("__c.n_bp").as("n_bp"))
  }

  /** Winnowing (MOSS) near-dup candidates: pairs of docs sharing at least
    * `minShared` selected fingerprints
    * ([[TextFunctions.winnowFingerprints]]). One narrow fingerprint
    * explode, one fp equi-join, one pair-count aggregation — never
    * all-pairs. Winnowing's expected fingerprint density is 2/(w+1) of the
    * gram count, so the join's key space (and any hot-key fan-out) dials
    * down with larger w; the shared-substring guarantee (>= w+k-1 tokens)
    * still holds.
    */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Long): DataFrame = {
    val fps = CacheScope.cache(docs.select(col(idCol).as("__id"),
      explode(TextFunctions.winnowFingerprints(col(textCol), k, w)).as("fp"))
      ) // cached: both sides of the candidate join
    fps.select(col("fp"), col("__id").as("a"))
      .join(fps.select(col("fp"), col("__id").as("b")), Seq("fp"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Benchmark decontamination — the GPT-3-style n-gram overlap check
    * (training docs sharing any length-n token window with an evaluation
    * benchmark are flagged for removal, so eval scores aren't inflated by
    * memorized test data). Returns one row per CONTAMINATED training doc:
    * (idCol, contaminated_by = smallest matching benchmark id, n_hits =
    * number of matching (gram, benchmark-doc) pairs).
    *
    * Relation to `txt_contamination` (Packing.contamination): that op
    * REPORTS raw short-gram overlap counts against a broadcastable eval
    * set; this is the REMOVAL decision at GPT-3's long-n-gram setting —
    * wider windows (n=4+ here, 13 in the paper) so incidental shared
    * phrases don't flag, plus the witness benchmark id an audit trail
    * needs.
    *
    * Scale shape: distinct (doc, gram) relations on both sides (a doc
    * repeating a gram adds no work), ONE equi-join on the gram key, one
    * per-doc agg — the exact-dedup skeleton keyed by n-grams. The
    * benchmark side is the small one by construction (an eval set vs a
    * training corpus); Spark's planner broadcasts it when its stats allow,
    * and the join never goes corpus×corpus regardless.
    */
  def ngramContamination(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame, as: String) = df
      .select(col(idCol).as(as),
        explode(TextFunctions.shingles(col(textCol), n)).as("g"))
      .distinct()
    grams(train, "__tid")
      .join(grams(bench, "__bid"), Seq("g"))
      .groupBy(col("__tid"))
      .agg(min(col("__bid")).as("contaminated_by"),
        count(lit(1)).as("n_hits"))
      .withColumnRenamed("__tid", idCol)
  }

  /** [[ngramContamination]] with a Bloom pre-filter on the corpus side —
    * the 100 TB shape of decontamination: the benchmark gram set is
    * eval-suite sized while the corpus stream is the whole crawl, so a
    * Bloom filter of the bench grams (built distributed, shipped as a
    * foldable plan literal probed by the codegen `bloom_might_contain`)
    * gates the corpus's (id, gram) stream IN THE SCAN, before the
    * distinct/join exchanges. No false negatives by Bloom's contract;
    * false positives die in the exact join — the OUTPUT is identical to
    * the exact operator (the driver gate runs both against one oracle),
    * only the exchanged volume shrinks from O(corpus grams) to
    * O(hits + fpp * corpus grams).
    */
  def ngramContaminationBloom(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int,
      expectedGrams: Long = 1L << 20, fpp: Double = 0.01): DataFrame = {
    val bg = CacheScope.cache(bench
      .select(col(idCol).as("__bid"),
        explode(TextFunctions.shingles(col(textCol), n)).as("g"))
      .distinct()) // cached: the bloom build AND the exact join read it
    val probe = graft.operators.JoinStrategies.bloomProbe(bg, "g", expectedGrams, fpp)
    val tg = train
      .select(col(idCol).as("__tid"),
        explode(TextFunctions.shingles(col(textCol), n)).as("g"))
      .filter(probe(col("g")))
      .distinct()
    tg.join(bg, Seq("g"))
      .groupBy(col("__tid"))
      .agg(min(col("__bid")).as("contaminated_by"),
        count(lit(1)).as("n_hits"))
      .withColumnRenamed("__tid", idCol)
  }
}
