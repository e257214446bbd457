package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class DrawSpec extends AnyFunSuite {

  test("the cohort draw is a function of its seed, stratified over every family") {
    val a = Draw.cohort(Board.families, Board.PerFamily, Board.CohortSeed)
    assert(a === Draw.cohort(Board.families, Board.PerFamily, Board.CohortSeed))
    assert(a !== Draw.cohort(Board.families, Board.PerFamily, Board.CohortSeed + 1))
    assert(Board.families.size === 13)
    Board.families.foreach { case (family, names) =>
      val drawn = a.filter(_._1 == family).map(_._2)
      assert(drawn.size === math.min(Board.PerFamily, names.size), family)
      assert(drawn.forall(names.contains), family)
    }
    assert(Board.cohort.distinct.size === Board.cohort.size)
  }

  private def stream(seed: Long, blocks: Int) =
    Draw.requests(seed, 200, 20000, 1000).take(blocks).toSeq.flatten

  test("the request mix is a function of its seed") {
    val a = stream(7L, 50)
    assert(a === stream(7L, 50))
    assert(a !== stream(8L, 50))
    // a longer stream of the same seed extends it
    assert(stream(7L, 80).take(a.size) === a)
  }

  test("every block has the stated mix; users are skewed, inputs in range") {
    val blocks = Draw.requests(1L, 200, 20000, 1000).take(2000).toSeq
    blocks.foreach { b =>
      assert(b.size === Draw.Block)
      Draw.Kinds.foreach { case (kind, n) => assert(b.count(_.kind == kind) === n) }
    }
    val rs = blocks.flatten
    val byUser = rs.groupBy(_.user).view.mapValues(_.size).toMap
    assert(rs.forall(r => r.user >= 0 && r.user < 200))
    assert(byUser(0) > 5 * byUser.getOrElse(100, 0))
    assert(rs.forall(r => r.item >= 1 && r.item <= 20000 && r.offset >= 0 && r.offset < 1000))
    assert(blocks.map(_.map(_.kind)).distinct.size > 1, "kinds are shuffled within blocks")
  }

  test("every seed's generator stream has event times Spark can encode") {
    val seeds = Seq(0L, 1L, 10L, 999L, 1000L, 1804289383L, -7L, Long.MaxValue, Long.MinValue)
    seeds.foreach { seed =>
      val first = Live.firstOffset(seed)
      assert(first >= 0 && first + Live.StreamSpan <= 1000000000L, seed)
      val ts = Live.rows(first + Live.StreamSpan - 1, 1).head._1
      assert(ts.toLocalDateTime.getYear < 2060, seed)
    }
    assert(Live.firstOffset(1L) !== Live.firstOffset(2L))
    assert(Live.firstOffset(42L) === Live.firstOffset(42L))
  }
}
