package telbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded near-duplicate corpus of `target` documents: `nBase` documents
  * drawn from a Zipf vocabulary, each the seed of a planted cluster whose
  * other members are token edits of it. Cluster sizes follow a fixed skewed
  * law (the largest clusters first, capped at `maxCluster`), so the graph
  * shape is the same for every seed and only the text, and which ids share
  * a cluster, vary.
  */
final class Corpus(seed: Long, nBase: Int, target: Int) {
  private val maxCluster = 32
  private val editRate = 0.03
  private val rng = new SplittableRandom(seed)
  private val vocab = new Zipf(20000, 0.9, rng.split())

  /** Planted size of cluster c (the base document included). */
  val sizes: Array[Int] = {
    val extra = target - nBase
    val w = Array.tabulate(nBase)(c => 1.0 / math.sqrt(c + 1.0))
    // scale so that the capped sizes add up to `extra` duplicates
    def total(k: Double) = w.map(x => math.min(maxCluster - 1, (k * x).toInt)).sum
    var lo = 0.0; var hi = extra.toDouble
    for (_ <- 0 until 60) { val m = (lo + hi) / 2; if (total(m) < extra) lo = m else hi = m }
    w.map(x => 1 + math.min(maxCluster - 1, (hi * x).toInt))
  }

  /** (id, text, planted cluster) with ids a seeded permutation of 0 until n. */
  val docs: Array[(Long, String, Int)] = {
    val out = mutable.ArrayBuffer.empty[(String, Int)]
    for (c <- 0 until nBase) {
      val len = 40 + rng.nextInt(81)
      val base = Array.fill(len)(vocab.sample(rng))
      out += ((text(base), c))
      for (_ <- 1 until sizes(c)) out += ((text(edit(base)), c))
    }
    val ids = Array.range(0, out.length)
    for (i <- ids.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    out.indices.map(i => (ids(i).toLong, out(i)._1, out(i)._2)).toArray
  }

  private def text(ws: Array[Int]): String =
    ws.map(w => "w" + Integer.toString(w, 36)).mkString(" ")

  private def edit(base: Array[Int]): Array[Int] = {
    val b = mutable.ArrayBuilder.make[Int]
    base.foreach { w =>
      val u = rng.nextDouble()
      if (u < editRate) b += vocab.sample(rng)                // replace
      else if (u < editRate * 4 / 3) ()                       // delete
      else if (u < editRate * 5 / 3) { b += w; b += vocab.sample(rng) } // insert
      else b += w
    }
    b.result()
  }

  def hash: Long = {
    var h = 0xcbf29ce484222325L
    docs.foreach { case (id, t, c) =>
      h = (h ^ id) * 0x100000001b3L
      h = (h ^ t.hashCode) * 0x100000001b3L
      h = (h ^ c) * 0x100000001b3L
    }
    h
  }
}

/** Independent answers for the dedup/graph chain, computed from the pairs
  * the chain returned.
  */
object PairGraph {

  /** Union-find components: node -> smallest node id of its component. */
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keysIterator.map(x => x -> find(x)).toMap
  }

  /** The k-core of the undirected graph: surviving node -> core degree. */
  def kCore(pairs: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
    val adj = mutable.HashMap.empty[Long, mutable.Set[Long]]
    pairs.foreach { case (a, b) => if (a != b) {
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    } }
    var weak = adj.collect { case (v, ns) if ns.size < k => v }.toList
    while (weak.nonEmpty) {
      val v = weak.head; weak = weak.tail
      adj.remove(v).foreach(_.foreach { u =>
        adj.get(u).foreach { ns => ns -= v; if (ns.size == k - 1) weak ::= u }
      })
    }
    adj.map { case (v, ns) => v -> ns.size }.toMap
  }

  /** Share of planted same-cluster document pairs that the labelling puts
    * in one cluster; documents absent from `label` are singletons.
    */
  def recall(planted: Seq[(Long, Int)], label: Map[Long, Long]): Double = {
    var hit = 0L; var all = 0L
    planted.groupBy(_._2).valuesIterator.foreach { members =>
      val n = members.size.toLong
      all += n * (n - 1) / 2
      members.groupBy { case (id, _) => label.getOrElse(id, -1L - id) }
        .valuesIterator.foreach { g => val m = g.size.toLong; hit += m * (m - 1) / 2 }
    }
    if (all == 0) 1.0 else hit.toDouble / all
  }
}
