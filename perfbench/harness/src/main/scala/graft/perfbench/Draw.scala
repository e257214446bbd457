package graft.perfbench

import scala.util.Random

/** Every seeded draw the benchmark makes: the board cohort and the serve
  * request mix. Pure functions of their seed, so a run is reproducible.
  */
object Draw {

  /** A stratified sample: `perFamily` names from every family (all of a
    * family smaller than that), each family shuffled by its own stream of
    * `seed`. Families keep their given order; names within a family come
    * out sorted, so the cohort's execution order is set elsewhere.
    */
  def cohort(families: Seq[(String, Seq[String])], perFamily: Int,
      seed: Long): Seq[(String, String)] =
    families.flatMap { case (family, names) =>
      val rnd = new Random(seed * 31 + family.hashCode)
      rnd.shuffle(names.sorted).take(perFamily).sorted.map(family -> _)
    }

  /** A serve request. `user` is 0-based, `offset` is the catalog page
    * offset, `item` the content seed item.
    */
  final case class Request(kind: String, user: Int, offset: Int, item: Long)

  /** The mix, per block of [[Block]] requests: exact shares in every block,
    * so any whole number of blocks has the stated mix whatever the seed.
    */
  val Kinds: Seq[(String, Int)] = Seq(
    "collaborative" -> 4, "hybrid" -> 2, "content" -> 2, "page" -> 2)
  val Block: Int = Kinds.map(_._2).sum

  /** Cumulative Zipf(`s`) weights over ranks 1..n. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  /** An endless request stream in blocks: each block's kinds in seeded
    * order, users Zipf(1.1)-skewed over `users`, page offsets uniform below
    * `maxOffset`, content seeds uniform over item ids 1..`items`.
    */
  def requests(seed: Long, users: Int, items: Int, maxOffset: Int): Iterator[Seq[Request]] = {
    val rnd = new Random(seed)
    val cdf = zipfCdf(users, 1.1)
    val kinds = Kinds.flatMap { case (k, n) => Seq.fill(n)(k) }
    Iterator.continually(rnd.shuffle(kinds).map { kind =>
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      val user = math.min(if (i >= 0) i else -i - 1, users - 1)
      Request(kind, user, rnd.nextInt(maxOffset), 1L + rnd.nextInt(items))
    })
  }
}
