package enginebench

import scala.collection.mutable

/** The benchmark's independent references. Everything here is plain
  * Scala over the benchmark's own copy of the inputs: no Spark, no
  * engine class. A workload's outputs are checked against these. */
object Refs {

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    val n = norm(a) * norm(b)
    if (n == 0.0) 0.0 else dot(a, b) / n
  }

  /** Exact cosine top-k over `cand`: (id, sim), sim descending, id
    * ascending on ties. */
  def exactTopK(q: Array[Double], cand: Iterator[(Long, Array[Double])],
                k: Int): Array[(Long, Double)] =
    cand.map { case (id, v) => (id, cosine(q, v)) }.toArray
      .sortBy { case (id, s) => (-s, id) }.take(k)

  /** Share of the exact top-k the served ids recover. A served id
    * whose exact similarity ties the k-th exact one counts as a hit,
    * so tie order never moves the figure. */
  def recall(served: Seq[Long], exact: Array[(Long, Double)],
             simOf: Long => Double): Double =
    if (exact.isEmpty) 1.0
    else {
      val kth = exact.last._2
      val hits = served.distinct.count(id => simOf(id) >= kth - 1e-12)
      math.min(hits, exact.length).toDouble / exact.length
    }

  /** One query's served rows, in rank order: ranks run 1..n with no
    * gap and similarity never increases. Returns the first violation. */
  def rankOrderError(rows: Seq[(Int, Double)]): Option[String] = {
    val ranks = rows.map(_._1)
    if (ranks != (1 to rows.size)) Some(s"ranks ${ranks.mkString(",")}")
    else rows.map(_._2).sliding(2).collectFirst {
      case Seq(a, b) if b > a => s"sim rises from $a to $b"
    }
  }

  /** Ids that break "at most one member of each group survives". */
  def overRepresentedGroups(survivors: Set[Long],
                            groups: Seq[Seq[Long]]): Seq[Seq[Long]] =
    groups.filter(_.count(survivors) > 1)

  /** One change of a CDC feed, as the benchmark generated it. */
  final case class Change(op: String, id: Long, tenant: String,
                          vec: Array[Double])

  /** The live-set model of a CDC feed: the same upserts and deletes
    * applied to an in-memory id → (tenant, vector) map. Within one
    * batch removals apply first, so an id both deleted and upserted
    * in a batch ends live with the upserted vector. */
  final class LiveSet {
    val vecs = mutable.LongMap.empty[Array[Double]]
    val tenants = mutable.LongMap.empty[String]

    def put(id: Long, tenant: String, v: Array[Double]): Unit = {
      vecs(id) = v; tenants(id) = tenant
    }

    def applyBatch(changes: Seq[Change]): Unit = {
      changes.filter(_.op == "delete").foreach { c =>
        vecs.remove(c.id); tenants.remove(c.id)
      }
      changes.filter(_.op == "upsert").foreach(c => put(c.id, c.tenant, c.vec))
    }

    def size: Int = vecs.size
    def live(id: Long): Boolean = vecs.contains(id)
    def ofTenant(t: String): Iterator[(Long, Array[Double])] =
      vecs.iterator.filter { case (id, _) => tenants(id) == t }
  }

  /** Each reference on a tiny input whose answer is worked out by
    * hand. Runs at the start of every benchmark run; a wrong
    * reference stops the run before anything is measured. */
  def selfTest(): Unit = {
    def expect(cond: Boolean, what: String): Unit =
      if (!cond) throw new IllegalStateException(s"reference self-test: $what")
    val r = math.sqrt(0.5)
    val cand = Seq(1L -> Array(1.0, 0.0), 2L -> Array(0.0, 1.0),
      3L -> Array(1.0, 1.0), 4L -> Array(-1.0, 0.0), 5L -> Array(2.0, 0.0))
    // q = (1, 0): sims 1, 0, √½, −1, 1 → top-3 is 1, 5 (tie, id order), 3
    val top = exactTopK(Array(1.0, 0.0), cand.iterator, 3)
    expect(top.map(_._1).toSeq == Seq(1L, 5L, 3L), "exactTopK ids")
    expect(math.abs(top(2)._2 - r) < 1e-15 && top(0)._2 == 1.0, "exactTopK sims")
    val simOf = cand.map { case (id, v) => id -> cosine(Array(1.0, 0.0), v) }.toMap
    expect(recall(Seq(1L, 3L, 2L), top, simOf) == 2.0 / 3, "recall 2/3")
    expect(recall(Seq(5L, 1L, 3L), top, simOf) == 1.0, "recall 1")
    expect(rankOrderError(Seq(1 -> 0.9, 2 -> 0.9, 3 -> 0.1)).isEmpty, "ranks ok")
    expect(rankOrderError(Seq(1 -> 0.9, 3 -> 0.5)).isDefined, "rank gap")
    expect(rankOrderError(Seq(1 -> 0.5, 2 -> 0.9)).isDefined, "rising sim")
    expect(overRepresentedGroups(Set(1L, 4L), Seq(Seq(1L, 2L), Seq(3L, 4L))).isEmpty,
      "one per group")
    expect(overRepresentedGroups(Set(1L, 2L), Seq(Seq(1L, 2L))) == Seq(Seq(1L, 2L)),
      "two of a group")
    val m = new LiveSet
    Seq(1L, 2L, 3L).foreach(i => m.put(i, "a", Array(i.toDouble)))
    m.applyBatch(Seq(Change("upsert", 2L, "a", Array(20.0)),
      Change("delete", 3L, "a", null), Change("upsert", 4L, "b", Array(4.0)),
      Change("delete", 5L, "a", null)))
    m.applyBatch(Seq(Change("upsert", 1L, "a", Array(10.0)),
      Change("delete", 1L, "a", null)))
    expect(m.vecs.keys.toSet == Set(1L, 2L, 4L), "live ids")
    expect(m.vecs(1L).head == 10.0 && m.vecs(2L).head == 20.0, "live vectors")
    expect(m.ofTenant("b").map(_._1).toSeq == Seq(4L), "tenant filter")
  }
}
