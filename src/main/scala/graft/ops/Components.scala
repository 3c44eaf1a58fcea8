package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Connected components over an edge list — the transitive-closure step
  * near-dup survivor selection needs (a chain a~b~c is ONE duplicate
  * group, so exactly one of the three survives; the one-hop greedy rule
  * would keep both ends). Output: (id, component) for every node, where
  * component = min(id) reachable via any chain of pairs.
  *
  * Two execution paths, chosen by [[DriverCollect.upTo]] on the
  * materialized edge list (its scaladoc states the bound and the rule):
  *
  *  - **Small graphs** (the common case for dup-cluster and
  *    entity-resolution graphs, whose pair lists are vocabulary-sized at
  *    any corpus scale): driver-side union-find over the collected edges.
  *    The distributed fixpoint's cost on these graphs is pure fixed
  *    overhead — ~2 jobs × shuffle-partition tasks × rounds,
  *    each task paying codegen/hashmap/sorter-page setup REGARDLESS of
  *    data size, multiplied by executor thread count. Measured: a
  *    24-pair ER graph allocated 0.5 GB at 4 threads and 4.3 GB at 32
  *    threads per run through the loop — GBs of GC pressure by
  *    construction for 32 rows of output. Union-find on the collected
  *    pairs is O(E α(E)) driver work (microseconds at the threshold),
  *    zero shuffles, zero loop jobs; min-label order matches Spark's
  *    `min` exactly (unsigned UTF-8 bytes for strings — UTF8String
  *    order — and numeric order for integral types).
  *
  *  - **Large graphs**: iterative min-label propagation with pointer
  *    jumping. Each round every node adopts the minimum label among
  *    itself, its neighbors, and its label's label (L(L(v)) — the
  *    shortcutting step that collapses label chains geometrically, so
  *    rounds scale with log(diameter), not diameter; L(v) is always a
  *    reachable node's id, so the min is fixpoint-preserving). Rounds
  *    are TWO jobs: the hop aggregate (which carries the previous label
  *    through the union, so convergence is read off the same frame —
  *    no third compare-join job) and a scan-only changed count on the
  *    hop checkpoint. One-hop stability implies the global fixpoint
  *    (the component-min node's label never changes; stability forces
  *    every neighbor to carry it, inductively the whole component), so
  *    testing before the jump is exact. The pointer-jump join is NOT
  *    separately checkpointed — the next round's hop job (or the final
  *    checkpoint) recomputes that one dimension-cheap join from the
  *    pinned hop, trading a recompute for a whole job's fixed task
  *    allocation per round.
  *
  * At 100 TB: every round is one equi-join (edges ⨝ labels on src) plus
  * one min-aggregate — all shuffles on the node id, so a co-partitioned
  * edge list reuses the exchange. `localCheckpoint` truncates the plan
  * lineage each round (an iterative loop otherwise compounds the DAG);
  * production would use reliable `checkpoint` to survive executor loss,
  * and the alternating large-star/small-star variant (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14 — public) to
  * collapse high-diameter graphs in O(log²) rounds. Every checkpoint is
  * a [[Stages.seal]] and is dropped with [[Stages.release]] as soon as
  * nothing reads it (`Dataset.unpersist` is a no-op on a checkpoint).
  */
object Components {

  /** (id, component) for every node in `pairs`, where component = the
    * minimum id reachable via any chain of pairs. At most `localEdgeMax`
    * symmetric edges take the driver-side path; `localEdgeMax = 0` forces
    * the distributed loop. */
  def minLabel(pairs: DataFrame, aCol: String, bCol: String,
               maxIter: Int = 50,
               localEdgeMax: Int = DriverCollect.Max): DataFrame = {
    // computed once (upstream pair gen paid HERE), read by the bounded
    // collect and, past the bound, by every round of the loop
    val edges = Stages.seal(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct(),
      eager = true)
    val idType = edges.schema("src").dataType
    val out = localOrdering(idType)
      .flatMap(ord => DriverCollect.upTo(edges, localEdgeMax)
        .map(rows => localMinLabel(rows, edges.sparkSession, idType, ord)))
      .getOrElse(distributedMinLabel(edges, idType, maxIter))
    Stages.release(Seq(edges))
    out
  }

  /** Driver-side label ordering matching Spark's `min` for the type —
    * None for types the local path does not replicate exactly (falls
    * back to the distributed loop, whose `min` is Spark-native). */
  private[graft] def localOrdering(dt: DataType): Option[Ordering[Any]] = dt match {
    case StringType =>
      // Spark's StringType min is UTF8String order = unsigned byte-wise
      // UTF-8 comparison (NOT java.lang.String's UTF-16 compareTo —
      // they diverge past the BMP)
      Some((a: Any, b: Any) => java.util.Arrays.compareUnsigned(
        a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case LongType    => Some(Ordering.by(_.asInstanceOf[Long]))
    case IntegerType => Some(Ordering.by(_.asInstanceOf[Int]))
    case ShortType   => Some(Ordering.by(_.asInstanceOf[Short]))
    case ByteType    => Some(Ordering.by(_.asInstanceOf[Byte]))
    case _           => None
  }

  /** Driver-side union-find + per-root min label over already-collected
    * pairs — the kernel behind [[localMinLabel]]'s DataFrame wrapper,
    * reusable by callers whose pair GENERATION is itself driver work
    * (q146's vocabulary-sized ER blocking). Union-find with path
    * halving; per-root minimum by `ord`. Null endpoints never join
    * anything (SQL equality semantics — the distributed path's edge
    * join drops them the same way), so a null node is its own
    * single-member component. Returns (nodes in first-seen order,
    * node → min reachable label). */
  private[graft] def unionFindMin(pairs: Iterator[(Any, Any)],
      ord: Ordering[Any]): (IndexedSeq[Any], Any => Any) = {
    val idx = new java.util.HashMap[Any, Integer]()
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Any]
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def nodeOf(v: Any): Int = {
      val cur = idx.get(v)
      if (cur != null) cur.intValue()
      else {
        val i = nodes.length
        idx.put(v, i)
        nodes += v
        parent += i
        i
      }
    }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val ia = nodeOf(a)
      val ib = nodeOf(b)
      if (a != null && b != null) {
        val ra = find(ia)
        val rb = find(ib)
        if (ra != rb) parent(ra) = rb
      }
    }
    // min label per root (components are all-null-free or single-null
    // by construction, so ord never sees a null)
    val minOf = new java.util.HashMap[Integer, Any]()
    var i = 0
    while (i < nodes.length) {
      val r = find(i)
      val v = nodes(i)
      val cur = minOf.get(r)
      if (!minOf.containsKey(r) ||
          (v != null && (cur == null || ord.lt(v, cur))))
        minOf.put(r, v)
      i += 1
    }
    (nodes.toIndexedSeq, v => {
      val j = idx.get(v)
      if (j == null) v else minOf.get(find(j.intValue()))
    })
  }

  /** [[unionFindMin]] over the collected edges, published as the
    * (id, component) DataFrame the distributed path emits. */
  private def localMinLabel(rows: Array[Row], spark: SparkSession,
                            idType: DataType, ord: Ordering[Any]): DataFrame = {
    val (nodes, compOf) = unionFindMin(
      rows.iterator.map(r => (r.get(0), r.get(1))), ord)
    val outRows = new java.util.ArrayList[Row](nodes.length)
    nodes.foreach { v => outRows.add(Row(v, compOf(v))) }
    val schema = StructType(Seq(StructField("id", idType),
      StructField("component", idType)))
    spark.createDataFrame(outRows, schema)
  }

  /** The distributed fixpoint — see object scaladoc for the per-round
    * job shape. */
  private def distributedMinLabel(edges: DataFrame, idType: DataType,
                                  maxIter: Int): DataFrame = {
    // both endpoints appear as src (edges are symmetric) → src covers
    // all nodes
    var labels = Stages.seal(edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")), eager = true)
    var pinned: DataFrame = labels // the checkpoint backing `labels`
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val msgs = edges.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("component"),
          lit(null).cast(idType).as("prev"))
      // each id has exactly one labels row, so min(prev) over the union
      // IS the previous label — the round's min-label AND its
      // convergence evidence materialize in ONE aggregate
      val hop = Stages.seal(labels
        .select(col("id"), col("component"), col("component").as("prev"))
        .union(msgs)
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"),
          min(col("prev")).as("prev")), eager = true)
      // scan-only count on the checkpoint (no join, no shuffle): did
      // the one-hop step lower any label? One-hop stability == global
      // fixpoint, so testing BEFORE the jump is exact
      changed = hop.filter(col("component") < col("prev")).count()
      // POINTER JUMP: adopt the label OF the label (L(L(v))) — derived
      // from hop's checkpoint, deliberately NOT checkpointed itself:
      // the next round's hop job recomputes this dimension-cheap join
      // instead of paying another full job's fixed task allocation
      val next = hop.join(
          hop.select(col("id").as("component"), col("component").as("jump")),
          Seq("component"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("jump"), col("component")))
            .as("component"))
      // release the superseded round's checkpoint NOW — `next` reads
      // hop, not the old pin; otherwise up to maxIter label-table
      // copies stay pinned until nondeterministic ContextCleaner GC
      Stages.release(Seq(pinned))
      pinned = hop
      labels = next
      iter += 1
    }
    require(changed == 0, s"components did not converge in $maxIter rounds")
    // pin the final labels once (consumers read the result repeatedly;
    // the backing hop checkpoint is released here, not leaked)
    val out = Stages.seal(labels, eager = true)
    Stages.release(Seq(pinned))
    out
  }
}
