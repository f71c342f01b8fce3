package graft.similarity

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

import graft.util.Artifacts

/** Voyager index files — the on-disk format of spotify/voyager, the
  * HNSW library scio ships as an ANN side input (reference:
  * scio-extra/src/main/scala/com/spotify/scio/extra/voyager/
  * Voyager.scala — a `VoyagerUri` directory holding `index.hnsw` +
  * `names.json`; VoyagerReader.scala:166 loads either with settings
  * read from the index metadata or with caller-provided settings for
  * headerless files).
  *
  * Layout, documented from the PUBLIC sources (spotify/voyager
  * cpp/src/Metadata.h + Enums.h, and the hnswlib serialization
  * voyager's index derives from, hnswlib/hnswalg.h saveIndex — the
  * format voyager keeps for upstream compatibility). All integers
  * little-endian:
  *
  *   [metadata, optional]
  *     magic "VOYA" | int32 version(=1) | int32 numDimensions |
  *     uint8 spaceType (0=euclidean 1=inner_product 2=cosine) |
  *     uint8 storageDataType (16=float8 32=float32 48=e4m3)
  *     [later revisions append: float32 maxNorm | uint8 transformFlag]
  *   [hnsw body — stock hnswlib HierarchicalNSW::saveIndex]
  *     uint64 offsetLevel0 (always 0) | uint64 maxElements |
  *     uint64 curElementCount | uint64 sizeDataPerElement |
  *     uint64 labelOffset | uint64 offsetData | int32 maxLevel |
  *     uint32 enterpointNode | uint64 maxM | uint64 maxM0 |
  *     uint64 M | float64 mult | uint64 efConstruction
  *     then curElementCount level-0 blocks of sizeDataPerElement:
  *       [uint16 nLinks + 2B flags + maxM0 × uint32 neighbor ids]
  *       [vector data: dim × (4B float32 | 1B fixed-point float8)]
  *       [uint64 label]
  *     then per element: uint32 linkListSize, if nonzero that many
  *       bytes = per level 1..elementLevel a block of
  *       [uint16 nLinks + 2B flags + maxM × uint32 ids]
  *
  * Because the two observed metadata revisions differ only by 5
  * trailing bytes, the parser resolves the variant STRUCTURALLY: it
  * accepts the candidate offset whose hnsw header satisfies the
  * format's hard invariants (offsetLevel0 == 0, offsetData ==
  * 4·(maxM0+1), labelOffset == offsetData + dataSize,
  * sizeDataPerElement == labelOffset + 8, and the total stream length
  * adds up). A stream without the "VOYA" magic is read as a
  * headerless (v0 / stock-hnswlib) index with caller-provided
  * settings — the reference's ProvidedSettings path.
  *
  * HONESTY NOTE: this container has no voyager runtime and no network,
  * so the loader is validated against hand-constructed golden bytes
  * from the documented layout and write→read roundtrips (VoyagerSpec),
  * NOT against binaries produced by stock voyager. E4M3 storage is
  * decoded per the published OCP FP8 E4M3 bit layout (1 sign, 4
  * exponent bits bias 7, 3 mantissa bits, no infinities, NaN =
  * S.1111.111) — the same fixed layout voyager's E4M3.h implements —
  * validated against the spec's value table rather than stock
  * binaries. Encoding rounds to the nearest representable value,
  * ties to the even byte pattern, saturating at ±448.
  *
  * Cosine semantics follow voyager: vectors are L2-normalized when
  * ADDED to a cosine-space index, and queries are normalized at search
  * time; distances are hnswlib conventions — squared L2 for euclidean,
  * 1 − dot for inner-product/cosine.
  *
  * Build is driver-side over a byte-budget-guarded vector set — the
  * same side-input shape as the reference (scio builds the index in
  * one place and distributes the FILES). SEARCH is distributed: the
  * index broadcasts once, each partition probes its rows locally.
  */
object Voyager {

  val SpaceEuclidean = 0
  val SpaceInnerProduct = 1
  val SpaceCosine = 2

  val StorageFloat8 = 16  // fixed-point int8 / 127
  val StorageFloat32 = 32
  val StorageE4M3 = 48    // OCP FP8 E4M3 — see honesty note

  val IndexFile = "index.hnsw"
  val NamesFile = "names.json"

  private def checkSpace(space: Int): Unit =
    require(space == SpaceEuclidean || space == SpaceInnerProduct || space == SpaceCosine,
      s"unknown voyager space type $space (0=euclidean 1=inner_product 2=cosine)")

  private def dataBytesPerDim(storage: Int): Int = storage match {
    case StorageFloat32 => 4
    case StorageFloat8  => 1
    case StorageE4M3    => 1
    case other =>
      throw new IllegalArgumentException(s"unknown voyager storage data type $other")
  }

  /** OCP FP8 E4M3 decode table: sign ⋅ 2^(e−7) ⋅ (1 + m/8) for e ≥ 1,
    * subnormal sign ⋅ 2^−6 ⋅ m/8 for e = 0, NaN at S.1111.111. No
    * infinities; max finite ±448.
    */
  private[similarity] val E4M3Table: Array[Float] = Array.tabulate(256) { b =>
    val sign = if ((b & 0x80) != 0) -1f else 1f
    val e = (b >> 3) & 0xF
    val m = b & 0x7
    if (e == 0xF && m == 0x7) Float.NaN
    else if (e == 0) sign * (m / 8.0f) / 64.0f
    else sign * java.lang.Math.scalb(1.0f + m / 8.0f, e - 7)
  }

  /** Nearest representable E4M3 byte for `x`: binary search over the
    * monotone positive half of the table, ties to the even byte
    * pattern, saturate at ±448; NaN encodes as 0x7F.
    */
  private[similarity] def e4m3Encode(x: Float): Byte = {
    if (x.isNaN) return 0x7F.toByte
    val neg = x < 0f
    val a = math.abs(x)
    val signBit = if (neg) 0x80 else 0x00
    if (a >= E4M3Table(0x7E)) return (signBit | 0x7E).toByte // saturate at 448
    // bytes 0x00..0x7E decode to strictly increasing non-negative values
    var lo = 0; var hi = 0x7E
    while (lo < hi) { // smallest byte whose value >= a
      val mid = (lo + hi) >>> 1
      if (E4M3Table(mid) < a) lo = mid + 1 else hi = mid
    }
    val b =
      if (lo == 0) 0
      else {
        val dHi = E4M3Table(lo) - a
        val dLo = a - E4M3Table(lo - 1)
        if (dLo < dHi) lo - 1
        else if (dHi < dLo) lo
        else if ((lo & 1) == 0) lo else lo - 1 // tie → even byte pattern
      }
    (signBit | b).toByte
  }

  private def l2normalize(v: Array[Float]): Array[Float] = {
    var ss = 0.0; var j = 0
    while (j < v.length) { ss += v(j).toDouble * v(j); j += 1 }
    if (ss == 0.0) v.clone()
    else {
      val inv = 1.0 / math.sqrt(ss)
      Array.tabulate(v.length)(i => (v(i) * inv).toFloat)
    }
  }

  /** A loaded index: vectors + labels + the multi-layer link graph. */
  final class Index private[Voyager] (
      val dim: Int,
      val space: Int,
      val storage: Int,
      val vectors: Array[Array[Float]],   // as stored (normalized if cosine)
      val labels: Array[Long],
      // links(node)(level) = neighbor node ids; level 0 first
      private[Voyager] val links: Array[Array[Array[Int]]],
      val maxLevel: Int,
      val enterpoint: Int,
      val efConstruction: Long,
      val m: Long,
      private[Voyager] val namesOrNull: Array[String],
      // hnswlib DELETE_MARK flags (byte 2 of the level-0 links header):
      // deleted elements stay in the graph for routing but are excluded
      // from results — a foreign index after markDeleted must not
      // resurface its tombstones
      private[Voyager] val deletedOrNull: java.util.BitSet) extends Serializable {

    def nItems: Int = vectors.length

    def isDeleted(node: Int): Boolean =
      deletedOrNull != null && deletedOrNull.get(node)

    /** Label → display name; falls back to the numeric label when the
      * index was loaded without a names.json.
      */
    def name(label: Long): String =
      if (namesOrNull != null && label >= 0 && label < namesOrNull.length)
        namesOrNull(label.toInt)
      else label.toString

    /** hnswlib distance conventions, double-accumulated: squared L2
      * for euclidean, 1 − dot for inner-product/cosine (stored cosine
      * vectors are already normalized).
      */
    private[Voyager] def dist(a: Array[Float], b: Array[Float]): Double =
      if (space == SpaceEuclidean) {
        var acc = 0.0; var j = 0
        while (j < a.length) { val d = a(j).toDouble - b(j).toDouble; acc += d * d; j += 1 }
        acc
      } else {
        var dot = 0.0; var j = 0
        while (j < a.length) { dot += a(j).toDouble * b(j).toDouble; j += 1 }
        1.0 - dot
      }

    private def better(x: (Int, Double), y: (Int, Double)): Boolean =
      x._2 < y._2 || (x._2 == y._2 && labels(x._1) < labels(y._1))

    /** Top-k (node, distance) by HNSW search: greedy descent on the
      * upper layers, ef-bounded best-first on layer 0. `ef >= nItems`
      * degenerates to an exhaustive exact scan (the oracle path —
      * like Annoy's searchK = corpus).
      */
    def query(q0: Array[Float], k: Int, ef: Int): Seq[(Int, Double)] = {
      require(q0.length == dim, s"query dim ${q0.length} != index dim $dim")
      require(k >= 1 && ef >= k, s"need 1 <= k <= ef, got k=$k ef=$ef")
      val q = if (space == SpaceCosine) l2normalize(q0) else q0
      val n = nItems
      if (n == 0) return Nil
      if (ef >= n) {
        return (0 until n).filterNot(isDeleted).map(i => i -> dist(q, vectors(i)))
          .sortWith(better).take(k)
      }
      // greedy descent to layer 1
      var ep = enterpoint
      var epDist = dist(q, vectors(ep))
      var level = maxLevel
      while (level >= 1) {
        var improved = true
        while (improved) {
          improved = false
          val ls = links(ep)
          if (level < ls.length) {
            val neigh = ls(level)
            var j = 0
            while (j < neigh.length) {
              val c = neigh(j)
              val d = dist(q, vectors(c))
              if (d < epDist) { ep = c; epDist = d; improved = true }
              j += 1
            }
          }
        }
        level -= 1
      }
      // layer 0: best-first, candidate list bounded by ef. Deleted
      // elements are traversed for routing but never enter results
      // (hnswlib's has_deletions search).
      val visited = new java.util.BitSet(n)
      // candidates: min-heap by distance; results: max-heap by distance
      val cand = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(
        Ordering.by[(Double, Int), Double](_._1).reverse)
      val res = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(
        Ordering.by[(Double, Int), Double](_._1))
      visited.set(ep)
      cand.enqueue((epDist, ep))
      if (!isDeleted(ep)) res.enqueue((epDist, ep))
      def bound: Double = if (res.size >= ef) res.head._1 else Double.PositiveInfinity
      while (cand.nonEmpty) {
        val (cd, c) = cand.dequeue()
        if (cd > bound) cand.clear()
        else {
          val neigh = links(c)(0)
          var j = 0
          while (j < neigh.length) {
            val nb = neigh(j)
            if (!visited.get(nb)) {
              visited.set(nb)
              val d = dist(q, vectors(nb))
              if (d < bound) {
                cand.enqueue((d, nb))
                if (!isDeleted(nb)) {
                  res.enqueue((d, nb))
                  if (res.size > ef) res.dequeue()
                }
              }
            }
            j += 1
          }
        }
      }
      res.toSeq.map { case (d, i) => (i, d) }.sortWith(better).take(k)
    }

    /** Items back as a DataFrame (label, name, vector) — reading a
      * foreign index into the engine.
      */
    def toDataFrame(spark: SparkSession): DataFrame = {
      val schema = StructType(Seq(
        StructField("label", LongType, nullable = false),
        StructField("name", StringType, nullable = false),
        StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false)))
      val rows = (0 until nItems).filterNot(isDeleted)
        .map(i => Row(labels(i), name(labels(i)), vectors(i).toSeq))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, rows.size / 10000)), schema)
    }
  }

  // ---------------------------------------------------------------- parse

  private def decodeVector(buf: ByteBuffer, off: Int, dim: Int, storage: Int): Array[Float] = {
    val v = new Array[Float](dim)
    var j = 0
    if (storage == StorageFloat32) {
      while (j < dim) { v(j) = buf.getFloat(off + 4 * j); j += 1 }
    } else if (storage == StorageE4M3) {
      while (j < dim) { v(j) = E4M3Table(buf.get(off + j) & 0xFF); j += 1 }
    } else { // float8 fixed point
      while (j < dim) { v(j) = buf.get(off + j) / 127.0f; j += 1 }
    }
    v
  }

  /** Try the hnsw body at `off`; null when the header's structural
    * invariants do not hold there (used to resolve the metadata
    * variant).
    */
  private def tryParseBody(bytes: Array[Byte], off: Int, dim: Int, space: Int,
                           storage: Int, names: Array[String]): Index = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (off + 100 > bytes.length) return null
    val offsetLevel0 = buf.getLong(off)
    val maxElements = buf.getLong(off + 8)
    val curCount = buf.getLong(off + 16)
    val sizePerElem = buf.getLong(off + 24)
    val labelOffset = buf.getLong(off + 32)
    val offsetData = buf.getLong(off + 40)
    val maxLevel = buf.getInt(off + 48)
    val enterpoint = buf.getInt(off + 52)
    val maxM = buf.getLong(off + 56)
    val maxM0 = buf.getLong(off + 64)
    val m = buf.getLong(off + 72)
    // mult (double) at off+80 — not needed for reading
    val efConstruction = buf.getLong(off + 88)
    val headerEnd = off + 96

    val dataSize = dim.toLong * dataBytesPerDim(storage)
    val ok = offsetLevel0 == 0 &&
      curCount >= 0 && curCount <= maxElements && curCount <= Int.MaxValue &&
      maxM0 > 0 && maxM0 <= (1L << 20) && maxM > 0 && maxM <= maxM0 && m > 0 &&
      maxLevel >= 0 && maxLevel < 64 &&
      offsetData == 4 * (maxM0 + 1) &&
      labelOffset == offsetData + dataSize &&
      sizePerElem == labelOffset + 8 &&
      headerEnd + curCount * sizePerElem <= bytes.length
    if (!ok) return null

    val n = curCount.toInt
    val vectors = new Array[Array[Float]](n)
    val labels = new Array[Long](n)
    val links = new Array[Array[Array[Int]]](n)
    val sizeLinksPerElem = 4L * maxM + 4L

    var deleted: java.util.BitSet = null
    var i = 0
    while (i < n) {
      val base = headerEnd + i * sizePerElem.toInt
      val nL0 = buf.getShort(base) & 0xFFFF
      if (nL0 > maxM0) return null
      // hnswlib stores the count in the first 2 bytes and DELETE_MARK
      // (0x01) in byte 2 of the 4-byte links header
      if ((buf.get(base + 2) & 0x01) != 0) {
        if (deleted == null) deleted = new java.util.BitSet(n)
        deleted.set(i)
      }
      val l0 = new Array[Int](nL0)
      var j = 0
      while (j < nL0) { l0(j) = buf.getInt(base + 4 + 4 * j); j += 1 }
      vectors(i) = decodeVector(buf, base + offsetData.toInt, dim, storage)
      labels(i) = buf.getLong(base + labelOffset.toInt)
      links(i) = Array(l0)
      i += 1
    }

    // upper link lists
    var pos = headerEnd + n * sizePerElem.toInt
    i = 0
    while (i < n) {
      if (pos + 4 > bytes.length) return null
      val linkListSize = buf.getInt(pos); pos += 4
      if (linkListSize != 0) {
        if (linkListSize < 0 || linkListSize % sizeLinksPerElem != 0 ||
            pos + linkListSize > bytes.length) return null
        val nLevels = (linkListSize / sizeLinksPerElem).toInt
        val all = new Array[Array[Int]](1 + nLevels)
        all(0) = links(i)(0)
        var lv = 0
        while (lv < nLevels) {
          val bOff = pos + lv * sizeLinksPerElem.toInt
          val cnt = buf.getShort(bOff) & 0xFFFF
          if (cnt > maxM) return null
          val arr = new Array[Int](cnt)
          var j = 0
          while (j < cnt) { arr(j) = buf.getInt(bOff + 4 + 4 * j); j += 1 }
          all(lv + 1) = arr
          lv += 1
        }
        links(i) = all
        pos += linkListSize
      }
      i += 1
    }
    if (pos != bytes.length) return null
    // every referenced node must exist
    i = 0
    while (i < n) {
      val ls = links(i)
      var lv = 0
      while (lv < ls.length) {
        var j = 0
        while (j < ls(lv).length) {
          if (ls(lv)(j) < 0 || ls(lv)(j) >= n) return null
          j += 1
        }
        lv += 1
      }
      i += 1
    }
    val ep = if (n == 0) 0 else { if (enterpoint < 0 || enterpoint >= n) return null else enterpoint }
    new Index(dim, space, storage, vectors, labels, links, maxLevel, ep,
      efConstruction, m, names, deleted)
  }

  /** Parse an index stream carrying the VOYA metadata header. */
  def parse(bytes: Array[Byte], names: Array[String] = null): Index = {
    require(bytes.length >= 14, s"not a voyager index: ${bytes.length} bytes")
    val magic = new String(bytes, 0, 4, StandardCharsets.US_ASCII)
    require(magic == "VOYA",
      "stream has no VOYA metadata header — for a headerless (v0 / stock " +
        "hnswlib) index use parse(bytes, names, space, dim, storage)")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val version = buf.getInt(4)
    require(version == 1, s"unsupported voyager metadata version $version (expected 1)")
    val dim = buf.getInt(8)
    require(dim > 0 && dim <= (1 << 20), s"implausible voyager dimension $dim")
    val space = bytes(12) & 0xFF
    checkSpace(space)
    val storage = bytes(13) & 0xFF
    dataBytesPerDim(storage) // validates
    // resolve the two observed V1 layouts structurally: base header
    // ends at 14; the later revision appends float maxNorm + flag byte
    val base = tryParseBody(bytes, 14, dim, space, storage, names)
    val parsed = if (base != null) base else tryParseBody(bytes, 19, dim, space, storage, names)
    require(parsed != null,
      "VOYA header parsed but the hnsw body matches neither metadata layout " +
        "(structural invariants failed) — corrupt or unknown revision")
    parsed
  }

  /** Parse a headerless index (voyager v0 / stock hnswlib) with
    * caller-provided settings — the reference's ProvidedSettings path.
    */
  def parse(bytes: Array[Byte], names: Array[String], space: Int, dim: Int,
            storage: Int): Index = {
    checkSpace(space)
    require(dim > 0, s"dim must be positive, got $dim")
    val parsed = tryParseBody(bytes, 0, dim, space, storage, names)
    require(parsed != null,
      s"stream is not a headerless hnswlib index for dim=$dim (structural " +
        "invariants failed) — wrong dim/storage, or a VOYA-headed file (use parse(bytes))")
    parsed
  }

  // ---------------------------------------------------------------- names

  /** names.json: a JSON array of strings, indexed by label. The
    * reference writes names unescaped, so raw control characters and
    * a backslash before any character are accepted on read.
    */
  def parseNames(json: String): Array[String] = {
    val n = Artifacts.parseJson(json, "malformed names.json", namesReader)
    require(n.isArray && n.elements().asScala.forall(_.isTextual),
      "names.json must be a JSON array of strings")
    n.elements().asScala.map(_.asText).toArray
  }

  private lazy val namesReader = Artifacts.json.reader()
    .`with`(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .`with`(JsonReadFeature.ALLOW_BACKSLASH_ESCAPING_ANY_CHARACTER)

  def renderNames(names: Seq[String]): String = Artifacts.json.writeValueAsString(names.toArray)

  // ---------------------------------------------------------------- build

  private def mix(a: Long, b: Long): Long = {
    var h = a * 0x9E3779B97F4A7C15L + b
    h ^= h >>> 32; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 29
    h
  }

  /** Build a real HNSW index (seeded level assignment, efConstruction
    * candidate search, mutual linking with closest-first shrink) and
    * return it plus the serialized `index.hnsw` bytes. Deterministic
    * for a given seed. Insertion order i gets label i; `names(i)` is
    * its display name.
    */
  def build(vectors0: IndexedSeq[Array[Float]], names: IndexedSeq[String], dim: Int,
            space: Int = SpaceCosine, m: Int = 16, efConstruction: Int = 200,
            seed: Long = 1L, storage: Int = StorageFloat32): (Index, Array[Byte]) = {
    checkSpace(space)
    dataBytesPerDim(storage)
    require(vectors0.nonEmpty, "cannot build an empty voyager index")
    require(names.length == vectors0.length, "one name per vector")
    require(vectors0.forall(_.length == dim), s"every vector must have dim $dim")
    require(m >= 2 && m <= 10000, s"implausible M=$m")
    val n = vectors0.length
    // voyager cosine semantics: normalize on add
    val prep = if (space == SpaceCosine) vectors0.map(l2normalize) else vectors0.map(_.clone())
    // float8 storage quantizes at add time; build the graph over the
    // values a reader will see so distances agree
    val vecs: IndexedSeq[Array[Float]] =
      if (storage == StorageFloat8)
        prep.map(v => v.map(x => (math.max(-127, math.min(127, math.round(x * 127))) / 127.0f)))
      else if (storage == StorageE4M3)
        prep.map(v => v.map(x => E4M3Table(e4m3Encode(x) & 0xFF)))
      else prep

    val maxM = m
    val maxM0 = 2 * m
    val mult = 1.0 / math.log(m.toDouble)

    def dist(a: Array[Float], b: Array[Float]): Double =
      if (space == SpaceEuclidean) {
        var acc = 0.0; var j = 0
        while (j < a.length) { val d = a(j).toDouble - b(j).toDouble; acc += d * d; j += 1 }
        acc
      } else {
        var dot = 0.0; var j = 0
        while (j < a.length) { dot += a(j).toDouble * b(j).toDouble; j += 1 }
        1.0 - dot
      }

    val levels = new Array[Int](n)
    val links = new Array[Array[scala.collection.mutable.ArrayBuffer[Int]]](n)
    var ep = 0
    var maxLevel = 0

    def capOf(level: Int): Int = if (level == 0) maxM0 else maxM

    def searchLayer(q: Array[Float], entry: Int, ef: Int, level: Int,
                    bound: Int): Seq[(Int, Double)] = {
      val visited = new java.util.BitSet(bound)
      val cand = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(
        Ordering.by[(Double, Int), Double](_._1).reverse)
      val res = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(
        Ordering.by[(Double, Int), Double](_._1))
      val d0 = dist(q, vecs(entry))
      visited.set(entry); cand.enqueue((d0, entry)); res.enqueue((d0, entry))
      while (cand.nonEmpty) {
        val (cd, c) = cand.dequeue()
        if (cd > res.head._1 && res.size >= ef) cand.clear()
        else if (level < links(c).length) {
          val neigh = links(c)(level)
          var j = 0
          while (j < neigh.length) {
            val nb = neigh(j)
            if (!visited.get(nb)) {
              visited.set(nb)
              val d = dist(q, vecs(nb))
              if (res.size < ef || d < res.head._1) {
                cand.enqueue((d, nb)); res.enqueue((d, nb))
                if (res.size > ef) res.dequeue()
              }
            }
            j += 1
          }
        }
      }
      res.toSeq.sortBy(x => (x._1, x._2)).map { case (d, i) => (i, d) }
    }

    var i = 0
    while (i < n) {
      // seeded geometric level draw (hnswlib: floor(-ln(U) * mult))
      val u = ((mix(seed, i.toLong) >>> 11).toDouble + 0.5) / (1L << 53).toDouble
      val level = math.min(63, (-math.log(u) * mult).toInt)
      levels(i) = level
      links(i) = Array.fill(level + 1)(scala.collection.mutable.ArrayBuffer.empty[Int])
      if (i == 0) { ep = 0; maxLevel = level }
      else {
        val q = vecs(i)
        var cur = ep
        var curDist = dist(q, vecs(cur))
        var lc = maxLevel
        while (lc > level) {
          var improved = true
          while (improved) {
            improved = false
            if (lc < links(cur).length) {
              val neigh = links(cur)(lc)
              var j = 0
              while (j < neigh.length) {
                val d = dist(q, vecs(neigh(j)))
                if (d < curDist) { cur = neigh(j); curDist = d; improved = true }
                j += 1
              }
            }
          }
          lc -= 1
        }
        lc = math.min(maxLevel, level)
        while (lc >= 0) {
          val found = searchLayer(q, cur, efConstruction, lc, i)
          val selected = found.take(maxM)
          selected.foreach { case (nb, _) =>
            links(i)(lc) += nb
            val back = links(nb)(lc)
            back += i
            val cap = capOf(lc)
            if (back.length > cap) {
              // shrink to the closest `cap` neighbors of nb
              val pruned = back.map(x => (x, dist(vecs(nb), vecs(x))))
                .sortBy(x => (x._2, x._1)).take(cap).map(_._1)
              back.clear(); back ++= pruned
            }
          }
          cur = found.head._1
          lc -= 1
        }
        if (level > maxLevel) { maxLevel = level; ep = i }
      }
      i += 1
    }

    // ------------------------------------------------------ serialize
    val dataSize = dim * dataBytesPerDim(storage)
    val sizePerElem = 4 * (maxM0 + 1) + dataSize + 8
    val sizeLinksPerElem = 4 * maxM + 4
    var upperBytes = 0L
    i = 0
    while (i < n) { upperBytes += 4 + (if (levels(i) > 0) levels(i) * sizeLinksPerElem else 0); i += 1 }
    val total = 14L + 96L + n.toLong * sizePerElem + upperBytes
    require(total <= Int.MaxValue, s"index too large to serialize in one buffer ($total bytes)")
    val buf = ByteBuffer.allocate(total.toInt).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("VOYA".getBytes(StandardCharsets.US_ASCII))
    buf.putInt(1).putInt(dim).put(space.toByte).put(storage.toByte)
    buf.putLong(0L)                    // offsetLevel0
    buf.putLong(n.toLong)              // maxElements
    buf.putLong(n.toLong)              // curElementCount
    buf.putLong(sizePerElem.toLong)
    buf.putLong(4L * (maxM0 + 1) + dataSize) // labelOffset
    buf.putLong(4L * (maxM0 + 1))      // offsetData
    buf.putInt(maxLevel)
    buf.putInt(ep)
    buf.putLong(maxM.toLong).putLong(maxM0.toLong).putLong(m.toLong)
    buf.putDouble(mult)
    buf.putLong(efConstruction.toLong)
    i = 0
    while (i < n) {
      val l0 = links(i)(0)
      buf.putShort(l0.length.toShort).putShort(0.toShort)
      var j = 0
      while (j < maxM0) { buf.putInt(if (j < l0.length) l0(j) else 0); j += 1 }
      val v = vecs(i)
      j = 0
      if (storage == StorageFloat8) {
        while (j < dim) { buf.put(math.max(-127, math.min(127, math.round(v(j) * 127))).toByte); j += 1 }
      } else if (storage == StorageE4M3) {
        while (j < dim) { buf.put(e4m3Encode(v(j))); j += 1 }
      } else {
        while (j < dim) { buf.putFloat(v(j)); j += 1 }
      }
      buf.putLong(i.toLong) // label = insertion order
      i += 1
    }
    i = 0
    while (i < n) {
      if (levels(i) == 0) buf.putInt(0)
      else {
        buf.putInt(levels(i) * sizeLinksPerElem)
        var lv = 1
        while (lv <= levels(i)) {
          val l = links(i)(lv)
          buf.putShort(l.length.toShort).putShort(0.toShort)
          var j = 0
          while (j < maxM) { buf.putInt(if (j < l.length) l(j) else 0); j += 1 }
          lv += 1
        }
      }
      i += 1
    }
    val bytes = buf.array()
    (parse(bytes, names.toArray), bytes)
  }

  /** Collect a byte-budget-guarded vector table in ONE job and build
    * the index — the scio VoyagerWriter side-input shape. Ids must be
    * dense 0..n-1 (they become labels and name strings). The guard is
    * byte-aware and rides inside the collect, like Annoy.buildFrom.
    */
  def buildFrom(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                space: Int = SpaceCosine, m: Int = 16, efConstruction: Int = 200,
                seed: Long = 1L, maxBytes: Long = 2L << 30): (Index, Array[Byte]) = {
    val perItem = 4L * (2L * m + 1) + 4L * dim + 8L
    val maxItems = math.min(maxBytes / perItem, Int.MaxValue - 1L).toInt
    require(maxItems >= 1, s"maxBytes=$maxBytes cannot hold one dim=$dim element ($perItem B)")
    val collected =
      df.select(col(idCol).cast("int"), col(vecCol)).limit(maxItems + 1).collect()
    val n = collected.length
    require(n <= maxItems,
      s"Voyager.buildFrom: corpus exceeds maxBytes=$maxBytes (> $maxItems items of " +
        s"$perItem B each) — a voyager index is a fits-in-memory artifact; raise " +
        "maxBytes only if the driver can hold it")
    val vecs = new Array[Array[Float]](n)
    collected.foreach { r =>
      val id = r.getInt(0)
      require(id >= 0 && id < n, s"ids must be dense 0..${n - 1}, got $id")
      vecs(id) = r.getSeq[Float](1).toArray
    }
    require(vecs.forall(_ != null), "ids must cover 0..n-1 exactly once")
    build(scala.collection.immutable.ArraySeq.unsafeWrapArray(vecs),
      (0 until n).map(_.toString), dim, space, m, efConstruction, seed)
  }

  /** [[buildFrom]] without the dense-id requirement: ANY id column
    * (long, string, …) — rows are assigned dense labels in collect
    * order and the original id rides as the element's NAME string, so
    * [[searchTopK]]/`Index.name` surface the caller's ids unchanged.
    * Same byte budget and one-job collect as [[buildFrom]].
    */
  def buildFromAny(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                   space: Int = SpaceCosine, m: Int = 16, efConstruction: Int = 200,
                   seed: Long = 1L, maxBytes: Long = 2L << 30): (Index, Array[Byte]) = {
    val perItem = 4L * (2L * m + 1) + 4L * dim + 8L
    val maxItems = math.min(maxBytes / perItem, Int.MaxValue - 1L).toInt
    require(maxItems >= 1, s"maxBytes=$maxBytes cannot hold one dim=$dim element ($perItem B)")
    val collected =
      df.select(col(idCol).cast("string"), col(vecCol)).limit(maxItems + 1).collect()
    val n = collected.length
    require(n <= maxItems,
      s"Voyager.buildFromAny: corpus exceeds maxBytes=$maxBytes (> $maxItems items of " +
        s"$perItem B each) — a voyager index is a fits-in-memory artifact; raise " +
        "maxBytes only if the driver can hold it")
    val names = collected.map(_.getString(0))
    require(names.distinct.length == n, "id column holds duplicates — names must be unique")
    val vecs = collected.map(_.getSeq[Float](1).toArray)
    build(scala.collection.immutable.ArraySeq.unsafeWrapArray(vecs),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(names), dim, space, m,
      efConstruction, seed)
  }

  // ---------------------------------------------------------------- files

  /** `parseIt(index.hnsw bytes, names.json names or null)` under `dir`. */
  private def readDir(spark: SparkSession, dir: String)
                     (parseIt: (Array[Byte], Array[String]) => Index): Index = {
    val namesPath = new Path(dir, NamesFile).toString
    val names =
      if (Artifacts.exists(spark, namesPath))
        parseNames(new String(Artifacts.readBytes(spark, namesPath), StandardCharsets.UTF_8))
      else null
    parseIt(Artifacts.readBytes(spark, new Path(dir, IndexFile).toString), names)
  }

  /** Persist `index.hnsw` + `names.json` under `dir` (the VoyagerUri
    * directory contract), temp + rename per file.
    */
  def write(spark: SparkSession, index: Index, indexBytes: Array[Byte], dir: String,
            names: Seq[String] = null): Unit = {
    val nm =
      if (names != null) names
      else (0 until index.nItems).map(i => index.name(index.labels(i)))
    Artifacts.write(spark, new Path(dir, IndexFile).toString)(_.write(indexBytes))
    Artifacts.write(spark, new Path(dir, NamesFile).toString)(
      _.write(renderNames(nm).getBytes(StandardCharsets.UTF_8)))
  }

  /** Load a VoyagerUri directory: settings from the index metadata
    * (the reference's MetadataSettings path). names.json is optional —
    * without it, names fall back to numeric labels.
    */
  def read(spark: SparkSession, dir: String): Index = readDir(spark, dir)(parse(_, _))

  /** Load a headerless (v0 / stock hnswlib) index with provided
    * settings — the reference's ProvidedSettings path.
    */
  def read(spark: SparkSession, dir: String, space: Int, dim: Int, storage: Int): Index =
    readDir(spark, dir)(parse(_, _, space, dim, storage))

  /** Distributed search: broadcast the index once, probe per
    * partition. Output (probe_id, rank, name, distance) — the
    * reference's VoyagerResult(name, distance) shape with hnswlib
    * distance conventions (squared L2 / 1 − dot).
    */
  def searchTopK(index: Index, probes: DataFrame, idCol: String, vecCol: String,
                 k: Int, ef: Int): DataFrame =
    KNN.searchLocalIndex(index, probes, idCol, vecCol,
        StructField("name", StringType, nullable = false),
        StructField("distance", DoubleType, nullable = false)) { (idx, q) =>
      idx.query(q, k, ef).map { case (node, d) => (idx.name(idx.labels(node)), d) }
    }
}
