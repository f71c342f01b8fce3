package graft.similarity

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Annoy index files — the PUBLIC on-disk format of spotify/annoy
  * (reference: scio-extra/src/main/scala/com/spotify/scio/extra/annoy/
  * — scio builds Annoy indexes as side inputs and ships the .ann file
  * as a distributed-cache artifact; AnnoyUri.scala:84 dispatches on
  * metric = Angular | Euclidean). graft reads and writes BOTH metric
  * layouts, so an index file is exchangeable with other tooling that
  * speaks them.
  *
  * Format (little-endian, f = vector dim; the file stores no header —
  * it is a flat array of fixed-size nodes, dim AND metric are supplied
  * at load exactly like `AnnoyIndex(f, metric)`):
  *
  *   angular   node size s = 12 + 4f
  *     struct Node { int32 n_descendants; int32 children[2]; float v[f] }
  *   euclidean node size s = 16 + 4f
  *     struct Node { int32 n_descendants; float a; int32 children[2]; float v[f] }
  *
  *  - item nodes occupy indices [0, nItems) (ids must be dense 0..n-1,
  *    annoy's documented contract) with n_descendants = 1 and v = the
  *    item vector;
  *  - split nodes: v = hyperplane normal; angular planes pass through
  *    the origin with margin(x) = ⟨v, x⟩, euclidean planes carry the
  *    offset float `a` with margin(x) = a + ⟨v, x⟩; children[0/1] =
  *    node index of the negative/positive side;
  *  - bucket leaves (2 ≤ n_descendants ≤ K, K = (s − childOff)/4 where
  *    childOff = 4 angular / 8 euclidean): the bytes from childOff
  *    onward are reinterpreted as n_descendants int32 item ids
  *    (annoy's children-spill trick); a single-item subtree is no node
  *    at all — the parent's child pointer aims straight at the item
  *    node;
  *  - after the trees, each tree root node is COPIED to the end of
  *    the file; the loader scans backwards collecting trailing nodes
  *    with equal n_descendants — that shared value IS nItems — and
  *    drops the one over-collected original last root when its
  *    children match the front's (annoy's load protocol, including
  *    that dedupe hack).
  *
  * Build is driver-side over a collected, byte-budget-guarded vector
  * set — the same shape as the reference, where scio builds the Annoy
  * side input in one place and distributes the FILE; an .ann artifact
  * is by contract a fits-in-memory object. SEARCH is distributed: the
  * index bytes broadcast once, each partition probes locally.
  */
object Annoy {

  val Angular = "angular"
  val Euclidean = "euclidean"

  private def checkMetric(metric: String): Unit =
    require(metric == Angular || metric == Euclidean,
      s"unknown Annoy metric '$metric' (angular|euclidean)")

  /** Offset of children[0] — also where bucket-leaf ids spill. */
  private def childOff(metric: String): Int = if (metric == Euclidean) 8 else 4

  /** Loaded index over the raw node bytes. */
  final class Index private[Annoy] (val dim: Int, val nItems: Int,
                                    private[Annoy] val bytes: Array[Byte],
                                    val roots: Seq[Int],
                                    val metric: String) extends Serializable {
    private val cOff = childOff(metric)
    private val s = cOff + 8 + 4 * dim
    @transient private lazy val buf =
      ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def nNodes: Int = bytes.length / s
    private def nDesc(i: Int): Int = buf.getInt(i * s)
    private def child(i: Int, c: Int): Int = buf.getInt(i * s + cOff + 4 * c)
    private def bias(i: Int): Float =
      if (metric == Euclidean) buf.getFloat(i * s + 4) else 0f
    private[Annoy] def vec(i: Int): Array[Float] = {
      val a = new Array[Float](dim)
      var j = 0
      while (j < dim) { a(j) = buf.getFloat(i * s + cOff + 8 + 4 * j); j += 1 }
      a
    }

    def itemVector(item: Int): Array[Float] = {
      require(item >= 0 && item < nItems, s"item $item out of range [0, $nItems)")
      vec(item)
    }

    private def cosine(a: Array[Float], b: Array[Float]): Double = {
      // per-element double promotion — the same arithmetic as the
      // codegen cosine kernel and DuckDB's list_cosine_similarity, so
      // exhaustive-search rankings agree bit-exactly with the oracle
      var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < a.length) {
        val x = a(j).toDouble; val y = b(j).toDouble
        dot += x * y; na += x * x; nb += y * y; j += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }

    private def euclid(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var j = 0
      while (j < a.length) {
        val d = a(j).toDouble - b(j).toDouble
        acc += d * d; j += 1
      }
      math.sqrt(acc)
    }

    /** Exact score of the configured metric: cosine SIMILARITY
      * (higher = closer) for angular, euclidean DISTANCE (lower =
      * closer) for euclidean.
      */
    def score(a: Array[Float], b: Array[Float]): Double =
      if (metric == Euclidean) euclid(a, b) else cosine(a, b)

    private def better(x: (Int, Double), y: (Int, Double)): Boolean = {
      val (a, b) = if (metric == Euclidean) (x._2, y._2) else (-x._2, -y._2)
      a < b || (a == b && x._1 < y._1) // ties break on the smaller id
    }

    /** Top-k by the index metric: walk every tree from its root
      * best-first by hyperplane margin, collect ≥ searchK candidates,
      * exact-rank them. searchK defaults to annoy's n_trees·k
      * heuristic.
      */
    def query(q: Array[Float], k: Int, searchK: Int = -1): Seq[(Int, Double)] = {
      require(q.length == dim, s"query dim ${q.length} != index dim $dim")
      val limit = if (searchK > 0) searchK else math.max(k * roots.length, k)
      val frontier = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(
        Ordering.by(_._1))
      roots.foreach(r => frontier.enqueue((Double.PositiveInfinity, r)))
      val kCap = (s - cOff) / 4
      val candidates = new scala.collection.mutable.HashSet[Int]()
      while (candidates.size < limit && frontier.nonEmpty) {
        val (_, node) = frontier.dequeue()
        val nd = nDesc(node)
        if (nd == 1 && node < nItems) candidates += node
        else if (nd <= kCap) {
          var j = 0
          while (j < nd) { candidates += buf.getInt(node * s + cOff + 4 * j); j += 1 }
        } else {
          val n = vec(node)
          var m = bias(node).toDouble; var j = 0
          while (j < dim) { m += n(j) * q(j); j += 1 }
          frontier.enqueue((m, child(node, 1)))
          frontier.enqueue((-m, child(node, 0)))
        }
      }
      candidates.toSeq
        .map(i => i -> score(q, vec(i)))
        .sortWith((a, b) => better(a, b))
        .take(k)
    }

    /** Items back as a DataFrame (id, vector) — reading someone
      * else's .ann into the engine.
      */
    def toDataFrame(spark: SparkSession): DataFrame = {
      val schema = StructType(Seq(
        StructField("item_id", IntegerType, nullable = false),
        StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false)))
      val rows = (0 until nItems).map(i => Row(i, vec(i).toSeq))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, rows.size / 10000)), schema)
    }
  }

  /** Deterministic splitting hash — rebuilds are byte-identical. */
  private def mix(a: Long, b: Long): Long = {
    var h = a * 0x9E3779B97F4A7C15L + b
    h ^= h >>> 32; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 29
    h
  }

  /** Build an Annoy index over dense ids 0..n-1 and return the .ann
    * file bytes. `nTrees` trades file size for recall, like annoy's
    * build(n_trees). Splits use seeded two-point hyperplanes (annoy's
    * two_means in spirit — the FORMAT admits any valid tree);
    * euclidean split planes bisect the two points (offset
    * a = −⟨normal, midpoint⟩, the annoy plane equation).
    */
  def build(vectors: IndexedSeq[Array[Float]], dim: Int, nTrees: Int = 8,
            seed: Long = 42L, metric: String = Angular): Array[Byte] = {
    require(vectors.nonEmpty, "cannot build an empty Annoy index")
    require(nTrees >= 1, s"nTrees must be >= 1, got $nTrees")
    require(vectors.forall(_.length == dim), s"every vector must have dim $dim")
    checkMetric(metric)
    val nItems = vectors.size
    val cOff = childOff(metric)
    val s = cOff + 8 + 4 * dim
    val kCap = (s - cOff) / 4

    val out = new java.io.ByteArrayOutputStream()
    var nNodes = 0
    def putNode(nDesc: Int, a: Float, c0: Int, c1: Int, v: Array[Float]): Int = {
      val b = ByteBuffer.allocate(s).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(nDesc)
      if (metric == Euclidean) b.putFloat(a)
      b.putInt(c0); b.putInt(c1)
      var j = 0
      while (j < dim) { b.putFloat(if (v == null) 0f else v(j)); j += 1 }
      out.write(b.array()); nNodes += 1; nNodes - 1
    }
    def putBucket(ids: Seq[Int]): Int = {
      val b = ByteBuffer.allocate(s).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(ids.size)
      if (metric == Euclidean) b.putFloat(0f)
      ids.foreach(b.putInt)
      while (b.position() < s) b.put(0.toByte)
      out.write(b.array()); nNodes += 1; nNodes - 1
    }

    // item nodes at [0, nItems)
    vectors.foreach(v => putNode(1, 0f, 0, 0, v))

    def dot(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var j = 0
      while (j < a.length) { d += a(j) * b(j); j += 1 }
      d
    }

    def makeTree(ids: Seq[Int], rng: Long, depth: Int): Int = {
      if (ids.size == 1) return ids.head // child pointer aims at the item node
      if (ids.size <= kCap) return putBucket(ids)
      require(depth < 512, "Annoy.build: split recursion too deep (degenerate data?)")
      val i1 = (mix(rng, 2L * depth + 1).abs % ids.size).toInt
      var i2 = (mix(rng, 2L * depth + 2).abs % ids.size).toInt
      if (i2 == i1) i2 = (i2 + 1) % ids.size
      val va = vectors(ids(i1)); val vb = vectors(ids(i2))
      val normal = Array.tabulate(dim)(j => va(j) - vb(j))
      // euclidean planes bisect the picked points; angular planes pass
      // through the origin (a stays 0 and is not stored)
      val a: Double =
        if (metric == Euclidean) {
          val mid = Array.tabulate(dim)(j => (va(j) + vb(j)) / 2f)
          -dot(normal, mid)
        } else 0.0
      var (pos, neg) = ids.partition(id => a + dot(normal, vectors(id)) > 0)
      if (pos.isEmpty || neg.isEmpty) {
        // degenerate plane (duplicate points): deterministic half-split
        val sorted = ids.sortBy(id => mix(rng ^ 0x5bd1e995L, id.toLong))
        val (l, r) = sorted.splitAt(ids.size / 2)
        neg = l; pos = r
      }
      val c0 = makeTree(neg, mix(rng, 3L), depth + 1)
      val c1 = makeTree(pos, mix(rng, 5L), depth + 1)
      putNode(ids.size, a.toFloat, c0, c1, normal)
    }

    val allIds = 0 until nItems
    val rootIdx = (0 until nTrees).map(t => makeTree(allIds, mix(seed, t.toLong), 0))
    // annoy's load protocol: copies of the roots go at the very end
    val arr = out.toByteArray
    val withRoots = new java.io.ByteArrayOutputStream()
    withRoots.write(arr)
    rootIdx.foreach(r => withRoots.write(arr, r * s, s))
    withRoots.toByteArray
  }

  /** Parse .ann bytes (annoy's backward root scan + dedupe hack). */
  def parse(bytes: Array[Byte], dim: Int, metric: String = Angular): Index = {
    checkMetric(metric)
    val cOff = childOff(metric)
    val s = cOff + 8 + 4 * dim
    require(bytes.length > 0 && bytes.length % s == 0,
      s"not a $metric Annoy file for dim=$dim: ${bytes.length} bytes is not a multiple of $s")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val nNodes = bytes.length / s
    val roots = scala.collection.mutable.ArrayBuffer.empty[Int]
    var m = -1
    var i = nNodes - 1
    var stop = false
    while (i >= 0 && !stop) {
      val k = buf.getInt(i * s)
      if (m == -1 || k == m) { roots += i; m = k; i -= 1 } else stop = true
    }
    // the original last root sits just before its copy — drop the dup
    if (roots.size > 1 &&
        buf.getInt(roots.head * s + cOff) == buf.getInt(roots.last * s + cOff))
      roots.remove(roots.size - 1)
    require(m >= 1 && m <= nNodes,
      s"corrupt .ann: trailing n_descendants $m is not a plausible item count ($nNodes nodes)")
    // validate the reachable tree structure up front (same branch
    // order as query): every child pointer and bucket id must be in
    // range, so a corrupt or mis-dimensioned file rejects here with a
    // clear error instead of crashing (or cycling forever) mid-search.
    // Item nodes may be shared across trees (the single-item-subtree
    // shortcut); split and bucket nodes are uniquely owned by one
    // tree, so a revisit means a cycle or overlap — both corrupt.
    val kCap = (s - cOff) / 4
    val seen = new java.util.BitSet(nNodes)
    val stack = scala.collection.mutable.ArrayBuffer(roots.toSeq: _*)
    while (stack.nonEmpty) {
      val n = stack.remove(stack.length - 1)
      require(n >= 0 && n < nNodes, s"corrupt .ann: node pointer $n out of [0, $nNodes)")
      val nd = buf.getInt(n * s)
      require(nd >= 0, s"corrupt .ann: negative n_descendants at node $n")
      if (nd == 1 && n < m) () // item node
      else {
        require(!seen.get(n),
          s"corrupt .ann: node $n reachable twice (cycle or overlapping trees)")
        seen.set(n)
        if (nd <= kCap) {
          var j = 0
          while (j < nd) {
            val id = buf.getInt(n * s + cOff + 4 * j)
            require(id >= 0 && id < m,
              s"corrupt .ann: bucket id $id at node $n out of [0, $m)")
            j += 1
          }
        } else {
          stack += buf.getInt(n * s + cOff)
          stack += buf.getInt(n * s + cOff + 4)
        }
      }
    }
    new Index(dim, m, bytes, roots.toSeq, metric)
  }

  /** Collect a byte-budget-guarded vector table in ONE job and build
    * the index — the scio AnnoySideInput shape: ids must be dense
    * 0..n-1. The guard is byte-aware (`maxBytes` over n · nodeSize,
    * default 2 GiB): 5M 1024-dim float vectors is ~20 GB on the
    * driver, a number a row-count cap never sees. The limit rides
    * INSIDE the collect, so an oversized corpus aborts at the budget
    * instead of materializing first.
    */
  def buildFrom(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                nTrees: Int = 8, seed: Long = 42L, metric: String = Angular,
                maxBytes: Long = 2L << 30): Index = {
    checkMetric(metric)
    val nodeBytes = childOff(metric) + 8L + 4L * dim
    val maxItems = math.min(maxBytes / nodeBytes, Int.MaxValue - 1L).toInt
    require(maxItems >= 1, s"maxBytes=$maxBytes cannot hold one dim=$dim node ($nodeBytes B)")
    val collected =
      df.select(col(idCol).cast("int"), col(vecCol)).limit(maxItems + 1).collect()
    val n = collected.length
    require(n <= maxItems,
      s"Annoy.buildFrom: corpus exceeds maxBytes=$maxBytes (> $maxItems items of " +
        s"$nodeBytes B each) — an .ann index is a fits-in-memory artifact; raise " +
        "maxBytes only if the driver can hold it")
    val vecs = new Array[Array[Float]](n)
    collected.foreach { r =>
      val id = r.getInt(0)
      require(id >= 0 && id < n, s"ids must be dense 0..${n - 1}, got $id")
      vecs(id) = r.getSeq[Float](1).toArray
    }
    require(vecs.forall(_ != null), "ids must cover 0..n-1 exactly once")
    parse(build(scala.collection.immutable.ArraySeq.unsafeWrapArray(vecs),
      dim, nTrees, seed, metric), dim, metric)
  }

  /** Persist .ann bytes to any Hadoop-visible path (temp + rename —
    * readers never observe a torn artifact).
    */
  def write(spark: SparkSession, index: Index, path: String): Unit =
    graft.util.Artifacts.write(spark, path)(_.write(index.bytes))

  def read(spark: SparkSession, path: String, dim: Int, metric: String = Angular): Index =
    parse(graft.util.Artifacts.readBytes(spark, path), dim, metric)

  /** Distributed search: broadcast the index once, probe per
    * partition. Output (probe_id, rank, item_id, score) where score
    * is cosine similarity under angular (column `cos_sim`, rank 1 =
    * most similar) or euclidean distance under euclidean (column
    * `distance`, rank 1 = nearest) — the angular shape is drop-in
    * comparable with KNN.bruteForceTopK.
    */
  def searchTopK(index: Index, probes: DataFrame, idCol: String, vecCol: String,
                 k: Int, searchK: Int = -1): DataFrame = {
    val scoreName = if (index.metric == Euclidean) "distance" else "cos_sim"
    KNN.searchLocalIndex(index, probes, idCol, vecCol,
        StructField("item_id", IntegerType, nullable = false),
        StructField(scoreName, DoubleType, nullable = false))(_.query(_, k, searchK))
  }
}
