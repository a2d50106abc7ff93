package graft.functions

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder, LongMap}
import scala.reflect.ClassTag
import scala.util.DynamicVariable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.CacheScope

/** The one iterative-graph engine behind [[Dedup.connectedComponents]] and
  * [[GraphRank]]'s PageRank family and HITS. Each algorithm writes its
  * round body ONCE against the superstep operations of [[Ops]] (the
  * GraphX shape: send along edges + combine, a per-node update that may
  * read one global scalar, and CC's pointer jump); the engine runs that
  * body on one of two backends, chosen from what it observes:
  *
  *  - in-task: the loop partitioner has ONE partition and the graph has at
  *    most [[MaxLocalEdges]] edges. The whole loop runs inside one task
  *    over primitive-key LongMaps — one job in total, where every
  *    distributed round would pay several one-task shuffle stages of pure
  *    scheduler latency.
  *  - distributed: node relations, messages and edges share one
  *    HashPartitioner, so every lookup is a narrow `zipPartitions` over a
  *    LongMap and the only shuffles are the map-side-combined message
  *    reductions, the scalar fan-out and CC's jump re-keyings, all of
  *    compact long pairs.
  *
  * Either way a partition's edges live as ONE block of primitive arrays
  * ([[Edges]]), built once: a round walks arrays instead of deserializing
  * a tuple per edge.
  *
  * Both backends apply the same operations in the same order to exact
  * Long values, so results — and CC's round count — are bit-identical.
  */
private[graft] object GraphLoop {

  /** edge bound of the in-task backend: one task holds the whole edge
    * list, and the node-count partitioner sizing alone does not bound it
    * (a dense 50k-node subgraph can hold O(n²) edges)
    */
  val MaxLocalEdges = 5000000L

  /** the in-task edge bound in force on the calling thread; specs lower it
    * with `withValue(0L)` to run the distributed backend on small graphs
    */
  private[graft] val localEdgeLimit = new DynamicVariable(MaxLocalEdges)

  /** The loop partitioner, sized to the graph rather than the session
    * default: every distributed round is a chain of driver-synchronous
    * stages, and partitions holding a handful of rows are pure scheduling
    * latency (50k nodes per partition keeps tasks meaningful).
    */
  def partitioner(spark: SparkSession, nodes: Long): HashPartitioner =
    new HashPartitioner(math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions,
      math.ceil(nodes / 50000.0).toInt)))

  /** how the messages sent to one node combine; `zero` stands in for "no
    * message" in [[Ops.update]]
    */
  sealed abstract class Combine(val zero: Long) extends Serializable {
    def apply(a: Long, b: Long): Long
  }
  object Min extends Combine(Long.MaxValue) {
    def apply(a: Long, b: Long): Long = math.min(a, b)
  }
  object Sum extends Combine(0L) {
    def apply(a: Long, b: Long): Long = a + b
  }

  /** The superstep operations, over one loop's node set. `N[X]` is a
    * node-keyed relation (a message relation covers only the nodes that
    * received one), `S` one global Long, `E` a directed edge list whose
    * edges carry an integer weight.
    */
  abstract class Ops[A] {
    type N[X]
    type S
    type E
    /** every node with its static attribute */
    def nodes: N[A]
    def edges: E
    /** [[edges]] with every edge turned around */
    def reversed: E
    def map[X, Y](v: N[X])(f: (Long, X) => Y): N[Y]
    /** `msg(value of src, weight)` along every edge, combined per dst */
    def send[X](es: E, v: N[X], c: Combine)(msg: (X, Long) => Long): N[Long]
    /** `f(value, combined message or c.zero, scalar or 0)` per node of `base` */
    def update[X, Y](base: N[X], msgs: N[Long], c: Combine, s: Option[S] = None)
        (f: (X, Long, Long) => Y): N[Y]
    def sum[X](v: N[X])(f: X => Long): S
    /** pointer jump: label ← min(label, label of label) */
    def jump(labels: N[Long]): N[Long]

    /** the loop's final state, materialized (fixed-count loops) */
    protected def done[X](v: N[X]): N[X]
    /** close one converging round: `next` materialized, and how many of
      * its labels improved on `prev`
      */
    protected def settle(next: N[Long], prev: N[Long]): (N[Long], Long)

    private[GraphLoop] var rounds = 0
    private[GraphLoop] var unconverged = 0L

    /** exactly `n` rounds */
    final def fixed[X](n: Int, init: N[X])(round: N[X] => N[X]): N[X] = {
      rounds = n
      done((1 to n).foldLeft(init)((v, _) => round(v)))
    }

    /** rounds until no label decreases, at most `maxIters` */
    final def converge(init: N[Long], maxIters: Int)(round: N[Long] => N[Long]): N[Long] = {
      var labels = init
      unconverged = 1L
      while (unconverged > 0 && rounds < maxIters) {
        val (next, changed) = settle(round(labels), labels)
        labels = next
        unconverged = changed
        rounds += 1
      }
      labels
    }
  }

  /** an algorithm: its initial state and round driver, written against
    * either backend
    */
  trait Program[A, X] extends Serializable {
    def apply(o: Ops[A]): o.N[X]
  }

  /** @param values      final node values, persisted and registered with
    *                    [[CacheScope]]
    * @param rounds      rounds run
    * @param unconverged labels still improving in the last round
    *                    (converging loops; 0 when converged)
    */
  final case class Result[X](values: RDD[(Long, X)], rounds: Int, unconverged: Long)

  /** Run `program` over `nodes` (id → static attribute) and `edges`
    * (src → (dst, weight), endpoints ⊆ node ids) on the backend the graph
    * size selects. Every materialization is one job labelled `job` for
    * [[graft.Profiler]]; with `checkpoint` it also writes a reliable
    * checkpoint (persist first, so the writer reads the cache).
    */
  def run[A: ClassTag, X](spark: SparkSession, nodes: RDD[(Long, A)],
      edges: RDD[(Long, (Long, Long))], part: HashPartitioner, job: String,
      checkpoint: Boolean = false)(program: Program[A, X]): Result[X] = {
    // node relations persist serialized: a deserialized cache holds boxed
    // Longs and tuples per row, all promoted to old gen because rounds
    // outlive young collections; Kryo's form is a few varints per row
    val level = StorageLevel.MEMORY_AND_DISK_SER
    def close(r: RDD[_]): Unit = {
      r.persist(level)
      if (checkpoint) r.checkpoint()
      graft.Profiler.attributed(spark, job) { r.count() }
    }
    val nodesR = nodes.partitionBy(part).persist(level)
    val edgesR = Edges.blocks(edges, part)
    val res =
      if (part.numPartitions == 1 &&
          edgesR.map(_.src.length.toLong).fold(0L)(_ + _) <= localEdgeLimit.value) {
        // the in-task loop's (rounds, unconverged): deterministic per task,
        // so a retried attempt reports the same pair again
        val stats = spark.sparkContext.collectionAccumulator[(Int, Long)]
        val out = nodesR.zipPartitions(edgesR, preservesPartitioning = true) {
          (itN, itE) =>
            val o = new Local[A](itN, itE)
            val v = program(o)
            stats.add((o.rounds, o.unconverged))
            v.iterator
        }
        close(out)
        val (rounds, left) = stats.value.get(0)
        Result(out, rounds, left)
      } else {
        val o = new Dist[A](nodesR, edgesR, part, close)
        val v = program(o)
        o.owned.foreach(_.unpersist(blocking = false))
        Result(v, o.rounds, o.unconverged)
      }
    CacheScope.registerRdd(res.values)
    nodesR.unpersist(blocking = false)
    edgesR.unpersist(blocking = false)
    res
  }

  /** drain a unique-key iterator into a primitive-key LongMap — the lookup
    * side of every narrow co-partitioned join
    */
  private def lookupOf[X](it: Iterator[(Long, X)]): LongMap[X] = {
    val m = new LongMap[X]()
    it.foreach { case (k, v) => m.update(k, v) }
    m
  }

  /** one partition's edges src → dst with weight w, as primitive columns */
  private final case class Edges(src: Array[Long], dst: Array[Long], w: Array[Long]) {
    def iterator: Iterator[(Long, (Long, Long))] =
      src.indices.iterator.map(i => (src(i), (dst(i), w(i))))
    /** (dst, f(src, w)) per edge — the send half of [[Ops.send]], without
      * boxing the index or the endpoints
      */
    def messages(f: (Long, Long) => Long): Iterator[(Long, Long)] =
      new scala.collection.AbstractIterator[(Long, Long)] {
        private[this] var i = 0
        def hasNext: Boolean = i < src.length
        def next(): (Long, Long) = {
          val m = (dst(i), f(src(i), w(i)))
          i += 1
          m
        }
      }
  }
  private object Edges {
    /** one block per partition of `part`, persisted deserialized: a
      * block is three arrays, so the object-per-row overhead that makes
      * the node relations cache serialized does not arise
      */
    def blocks(edges: RDD[(Long, (Long, Long))], part: HashPartitioner): RDD[Edges] =
      edges.partitionBy(part).mapPartitions({ it =>
          val (s, d, w) = (ArrayBuilder.make[Long], ArrayBuilder.make[Long], ArrayBuilder.make[Long])
          it.foreach { case (a, (b, x)) => s += a; d += b; w += x }
          Iterator.single(Edges(s.result(), d.result(), w.result()))
        }, preservesPartitioning = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** in-task backend: the whole graph in one task's LongMaps */
  private final class Local[A](itN: Iterator[(Long, A)], itE: Iterator[Edges])
      extends Ops[A] {
    type N[X] = LongMap[X]
    type S = Long
    type E = Edges
    val nodes: LongMap[A] = lookupOf(itN)
    val edges: Edges = itE.next()
    lazy val reversed: Edges = Edges(edges.dst, edges.src, edges.w)

    def map[X, Y](v: LongMap[X])(f: (Long, X) => Y): LongMap[Y] = {
      val out = new LongMap[Y](v.size)
      v.foreachEntry((i, x) => out.update(i, f(i, x)))
      out
    }
    def send[X](es: Edges, v: LongMap[X], c: Combine)(msg: (X, Long) => Long): LongMap[Long] = {
      val out = new LongMap[Long]()
      es.messages((s, w) => msg(v(s), w)).foreach { case (d, m) =>
        out.update(d, c(out.getOrElse(d, c.zero), m)) }
      out
    }
    def update[X, Y](base: LongMap[X], msgs: LongMap[Long], c: Combine, s: Option[Long])
        (f: (X, Long, Long) => Y): LongMap[Y] = {
      val sv = s.getOrElse(0L)
      map(base)((i, x) => f(x, msgs.getOrElse(i, c.zero), sv))
    }
    def sum[X](v: LongMap[X])(f: X => Long): Long = {
      var t = 0L
      v.foreachValue(x => t += f(x))
      t
    }
    def jump(labels: LongMap[Long]): LongMap[Long] =
      map(labels)((_, c) => math.min(c, labels.getOrElse(c, c)))

    protected def done[X](v: LongMap[X]): LongMap[X] = v
    protected def settle(next: LongMap[Long], prev: LongMap[Long]): (LongMap[Long], Long) = {
      var n = 0L
      next.foreachEntry((i, c) => if (c < prev(i)) n += 1)
      (next, n)
    }
  }

  /** distributed backend: co-partitioned RDDs on `part`. Closures shipped
    * to tasks capture only locals and this module's functions, never the
    * backend instance (it holds RDDs).
    */
  private final class Dist[A](val nodes: RDD[(Long, A)], val edges: RDD[Edges],
      part: HashPartitioner, close: RDD[_] => Unit) extends Ops[A] {
    type N[X] = RDD[(Long, X)]
    type S = RDD[(Int, Long)]
    type E = RDD[Edges]
    /** RDDs this backend persisted for the loop's lifetime */
    val owned = ArrayBuffer.empty[RDD[_]]
    lazy val reversed: E = {
      val r = Edges.blocks(edges.flatMap(_.iterator.map { case (s, (d, w)) => (d, (s, w)) }), part)
      owned += r
      r
    }
    private lazy val changed = nodes.sparkContext.longAccumulator("graph-loop-changed")

    def map[X, Y](v: N[X])(f: (Long, X) => Y): N[Y] =
      v.mapPartitions(_.map { case (i, x) => (i, f(i, x)) }, preservesPartitioning = true)

    // NOT partitioning-preserving: the output re-keys src → dst, so the
    // reduceByKey must plant its real shuffle
    def send[X](es: E, v: N[X], c: Combine)(msg: (X, Long) => Long): N[Long] =
      es.zipPartitions(v, preservesPartitioning = false) { (itE, itV) =>
          val m = lookupOf(itV)
          itE.flatMap(_.messages((s, w) => msg(m(s), w)))
        }
        .reduceByKey(part, (a, b) => c(a, b))

    def update[X, Y](base: N[X], msgs: N[Long], c: Combine, s: Option[S])
        (f: (X, Long, Long) => Y): N[Y] = {
      val zero = c.zero
      s match {
        case None => base.zipPartitions(msgs, preservesPartitioning = true) {
          (itB, itM) => updated(itB, lookupOf(itM), zero, 0L, f) }
        case Some(sr) => base.zipPartitions(msgs, sr, preservesPartitioning = true) {
          (itB, itM, itS) =>
            updated(itB, lookupOf(itM), zero, if (itS.hasNext) itS.next()._2 else 0L, f) }
      }
    }

    /** Replicate the global sum to every partition without a driver
      * action: partial sums collapse through a one-key shuffle and fan
      * back out as one (p, sum) record per partition (Int keys 0..P-1 land
      * on their own index under HashPartitioner(P)), which [[update]] zips
      * in. Fixed-count loops thus stay ONE driver job end to end; the cost
      * is two tiny stages of P+1 records per use.
      */
    def sum[X](v: N[X])(f: X => Long): S = {
      val p = part.numPartitions
      v.mapPartitions { it =>
          var t = 0L
          it.foreach(kv => t += f(kv._2))
          Iterator.single((0, t))
        }
        .reduceByKey(new HashPartitioner(1), _ + _)
        .flatMap { case (_, t) => Iterator.range(0, p).map(i => (i, t)) }
        .partitionBy(part)
    }

    // Each jump shuffles compact (long, long) pairs twice: once to key by
    // label for the parent lookup (the lookup itself is narrow), once to
    // bring the jumped labels back to their node's partition. Every label
    // is some node's id, so m(c) always hits.
    def jump(labels: N[Long]): N[Long] = {
      val jumped = labels.map { case (i, c) => (c, i) }
        .partitionBy(part)
        .zipPartitions(labels, preservesPartitioning = false) { (itJ, itL) =>
          val m = lookupOf(itL)
          itJ.map { case (c, i) => (i, m(c)) }
        }
        .partitionBy(part)
      labels.zipPartitions(jumped, preservesPartitioning = true) { (itL, itJ) =>
        val m = lookupOf(itJ)
        itL.map { case (i, c) => (i, math.min(c, m.getOrElse(i, c))) }
      }
    }

    protected def done[X](v: N[X]): N[X] = { close(v); v }

    // the change count rides the round's one materialization job: an
    // accumulator bumped per improved label, no separate count. A retried
    // task can only over-count, which at worst costs one extra round.
    protected def settle(next: N[Long], prev: N[Long]): (N[Long], Long) = {
      val acc = changed
      acc.reset()
      val flagged = next.zipPartitions(prev, preservesPartitioning = true) { (itN, itP) =>
        val old = lookupOf(itP)
        itN.map { case (i, c) => if (c < old(i)) acc.add(1L); (i, c) }
      }
      close(flagged)
      prev.unpersist(blocking = true)
      (flagged, acc.value)
    }
  }

  private def updated[X, Y](base: Iterator[(Long, X)], msgs: LongMap[Long], zero: Long,
      s: Long, f: (X, Long, Long) => Y): Iterator[(Long, Y)] =
    base.map { case (i, x) => (i, f(x, msgs.getOrElse(i, zero), s)) }
}
