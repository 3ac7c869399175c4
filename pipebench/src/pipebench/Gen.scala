package pipebench

import java.util.Locale

import scala.collection.mutable

/** Seeded input generators and the driver-side references the outputs
  * are checked against. Every generator is a pure function of the seed
  * and its indices, so a seed always yields the same inputs. */
object Gen {

  /** A generator stream for one (seed, purpose, indices) tuple. */
  def rng(seed: Long, salt: Long*): scala.util.Random = {
    var h = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E5L
    salt.foreach { s => h = java.lang.Long.rotateLeft(h ^ (s * 0xBF58476D1CE4E5B9L), 29) * 0x94D049BB133111EBL }
    new scala.util.Random(h)
  }

  private def dec(x: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(x))

  // ---------------------------------------------------------------- api

  /** One flattened row of a nested api document (one per item). */
  final case class NestedRow(id: Long, sku: Long, ver: Int, src: String,
                             score: Double, qty: Int)

  /** A nested document: a struct and an array of `items` structs, which
    * Flatten explodes into one row per item. Returns the JSON text and
    * the rows it flattens to. */
  def nestedDoc(id: Long, ver: Int, src: String, items: Int,
                r: scala.util.Random): (String, Seq[NestedRow]) = {
    val score = dec(r.nextInt(100000) / 1000.0)
    val its = (0 until items).map(k => (id * 10 + k, 1 + r.nextInt(99)))
    val json = s"""{"id":$id,"ver":$ver,"meta":{"src":"$src","score":$score},""" +
      its.map { case (sku, q) => s"""{"sku":$sku,"qty":$q}""" }
        .mkString(""""items":[""", ",", "]}")
    (json, its.map { case (sku, q) => NestedRow(id, sku, ver, src, score.toDouble, q) })
  }

  /** A flat paged document; a drifted one carries an extra field. */
  final case class FlatRow(id: Long, ver: Int, name: String, score: Double)

  def flatDoc(id: Long, ver: Int, r: scala.util.Random,
              drifted: Boolean): (String, FlatRow) = {
    val name = s"n${r.nextInt(1000000)}"
    val score = dec(r.nextInt(100000) / 1000.0)
    val extra = if (drifted) ""","extra":1""" else ""
    (s"""{"id":$id,"ver":$ver,"name":"$name","score":$score$extra}""",
      FlatRow(id, ver, name, score.toDouble))
  }

  /** `k` distinct picks from `xs`. */
  def pick[A](xs: IndexedSeq[A], k: Int, r: scala.util.Random): Seq[A] =
    r.shuffle(xs).take(math.min(k, xs.size))

  // --------------------------------------------------------------- files

  final case class FileSpec(dir: String, name: String, excluded: Boolean)

  val excludedExtensions = Seq("tmp", "bak")
  val excludedNameTerms = Seq("~lock", "thumbs")

  /** A tree of small files under `topDirs` top-level directories, two
    * levels deep. Every seventh file is caught by an excluded extension
    * or name term, so every seed excludes the same share; the seed picks
    * the other files' extensions and every file's content. Names are
    * unique across the tree because the pipeline copies into one flat
    * target directory. */
  def fileTree(seed: Long, topDirs: Int, files: Int): Seq[FileSpec] = {
    val r = rng(seed, 31)
    (0 until files).map { i =>
      val (stem, ext, ex) =
        if (i % 7 == 0) Seq((s"f$i", "tmp"), (s"f$i", "bak"), (s"thumbs_f$i", "db"),
          (s"~lock_f$i", "txt"))(i / 7 % 4) match { case (n, e) => (n, e, true) }
        else (s"f$i", Seq("txt", "csv", "json", "log")(r.nextInt(4)), false)
      FileSpec(s"top${i % topDirs}/s${i / topDirs % 3}", s"d${i % topDirs}_$stem.$ext", ex)
    }
  }

  /** File content at a version: seeded printable bytes, 256..3071 long. */
  def fileBody(seed: Long, file: Int, version: Int): Array[Byte] = {
    val r = rng(seed, 37, file, version)
    val n = 256 + r.nextInt(2816)
    Array.fill(n)((32 + r.nextInt(95)).toByte)
  }

  // --------------------------------------------------------------- graph

  /** A directed graph of `nodes` nodes whose shape, and so every loop's
    * round count, is the same for every seed; the seed only relabels the
    * nodes and draws the edges between groups:
    *  - a giant strongly connected block of half the nodes, a circulant
    *    (i -> i+1, i+7, i+31, i+53), holding the largest id;
    *  - two smaller circulant blocks, each node fed by one edge from the
    *    block before;
    *  - two layers of acyclic tail nodes, each fed from the layer
    *    before (the first from the blocks).
    * SCC's first distributed peel removes the giant block and leaves a
    * remainder under its driver-side finish thresholds. BFS sources are
    * drawn from the giant block, where every node sees the same hop
    * structure. */
  final case class Graph(edges: Seq[(Long, Long)], giant: Seq[Long])

  def graph(seed: Long, nodes: Int): Graph = {
    val r = rng(seed, 41)
    val sizes = Seq(nodes / 2, nodes / 7, nodes / 9)
    val ids = (nodes.toLong +: r.shuffle((1 until nodes).map(_.toLong))).toIndexedSeq
    val starts = sizes.scanLeft(0)(_ + _)
    val blocks = sizes.indices.map(b => starts(b) until starts(b + 1))
    val steps = Seq(Seq(1, 7, 31, 53), Seq(1, 5), Seq(1, 4))
    val tail = (starts.last until nodes).grouped(math.max(1, (nodes - starts.last) / 2)).toSeq
    val edges = mutable.LinkedHashSet[(Int, Int)]()
    blocks.zip(steps).foreach { case (blk, ss) =>
      blk.indices.foreach(i => ss.foreach(s => edges += ((blk(i), blk((i + s) % blk.size)))))
    }
    def anyOf(xs: IndexedSeq[Int]) = xs(r.nextInt(xs.size))
    blocks.sliding(2).foreach { case Seq(a, b) => b.foreach(v => edges += ((anyOf(a), v))) }
    val fed = blocks.flatten
    tail.foldLeft(fed) { (prev, layer) =>
      layer.foreach { v => edges += ((anyOf(prev), v)); edges += ((anyOf(prev), v)) }
      layer
    }
    Graph(edges.toSeq.map { case (a, b) => (ids(a), ids(b)) }, blocks.head.map(ids))
  }

  /** Tarjan SCC (iterative); returns node -> max member id. */
  def sccRef(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.toArray }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val index = mutable.Map[Long, Int]()
    val low = mutable.Map[Long, Int]()
    val onStack = mutable.Set[Long]()
    val stack = mutable.Stack[Long]()
    val out = mutable.Map[Long, Long]()
    var next = 0
    nodes.foreach { root =>
      if (!index.contains(root)) {
        val work = mutable.Stack[(Long, Int)]((root, 0))
        while (work.nonEmpty) {
          val (v, i) = work.pop()
          if (i == 0) {
            index(v) = next; low(v) = next; next += 1
            stack.push(v); onStack += v
          }
          val succ = adj.getOrElse(v, Array.empty[Long])
          var j = i
          var descended = false
          while (j < succ.length && !descended) {
            val w = succ(j)
            if (!index.contains(w)) {
              work.push((v, j + 1)); work.push((w, 0)); descended = true
            } else {
              if (onStack(w)) low(v) = math.min(low(v), index(w))
              j += 1
            }
          }
          if (!descended) {
            if (low(v) == index(v)) {
              val comp = mutable.ArrayBuffer[Long]()
              var w = -1L
              while (w != v) { w = stack.pop(); onStack -= w; comp += w }
              val m = comp.max
              comp.foreach(c => out(c) = m)
            }
            if (work.nonEmpty) {
              val (p, _) = work.top
              low(p) = math.min(low(p), low(v))
            }
          }
        }
      }
    }
    out.toMap
  }

  /** Iterated neighbourhood h-index over the undirected simple graph:
    * round 0 is the degree, each round replaces a node's value with the
    * h-index of its neighbours' values. */
  def hIndexRef(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val und = edges.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    var vals: Map[Long, Long] = nbrs.map { case (k, v) => k -> v.size.toLong }
    var i = 0
    while (i < rounds) {
      vals = nbrs.map { case (k, ns) =>
        val vs = ns.map(vals).sorted(Ordering[Long].reverse)
        var h = 0L
        vs.zipWithIndex.foreach { case (x, idx) => if (x >= idx + 1) h = idx + 1L }
        k -> h
      }
      i += 1
    }
    vals
  }

  /** Hop distances from `sources` along directed edges, up to `maxHops`. */
  def bfsRef(edges: Seq[(Long, Long)], sources: Seq[Long],
             maxHops: Int): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val dist = mutable.Map[Long, Long]()
    var frontier = sources.distinct
    frontier.foreach(s => dist(s) = 0L)
    var hop = 0
    while (frontier.nonEmpty && hop < maxHops) {
      hop += 1
      frontier = frontier.flatMap(v => adj.getOrElse(v, Nil)).distinct
        .filterNot(dist.contains)
      frontier.foreach(v => dist(v) = hop.toLong)
    }
    dist.toMap
  }
}
