package perfbench

/** Feeds every JVM-side check a correct answer and corrupted copies of
  * it; a check that accepts a corrupted copy is a self-test failure.
  */
object SelfTest {
  def run(ctx: Ctx): Unit = {
    def expect(name: String, ok: Boolean): Unit = ctx.checkOp(name)(ok, name)
    val topk = Seq(7L -> 3.25, 2L -> 2.5, 9L -> 2.5, 4L -> 1.0)
    expect("sameRanking accepts an equal top-k", Checks.sameRanking(topk, topk))
    expect("sameRanking catches a dropped top-k row", !Checks.sameRanking(topk.init, topk))
    expect("sameRanking catches two swapped ranks",
      !Checks.sameRanking(Seq(topk(1), topk(0)) ++ topk.drop(2), topk))
    expect("sameRanking catches a changed score",
      !Checks.sameRanking(topk.updated(3, 4L -> 1.001), topk))
    expect("sameRanking catches a flipped id", !Checks.sameRanking(topk.updated(0, 8L -> 3.25), topk))

    val facets = Map("1-URGENT" -> 40L, "2-HIGH" -> 38L)
    expect("sameCounts accepts equal counts", Checks.sameCounts(facets, facets))
    expect("sameCounts catches an off-by-one count",
      !Checks.sameCounts(facets.updated("2-HIGH", 39L), facets))
    expect("sameCounts catches a missing facet value", !Checks.sameCounts(facets - "2-HIGH", facets))

    val ids = Seq(3L, 11L, 5L)
    expect("sameKeys accepts the requested keys in any order", Checks.sameKeys(ids.reverse, ids))
    expect("sameKeys catches a missing row", !Checks.sameKeys(ids.tail, ids))
    expect("sameKeys catches a duplicated row", !Checks.sameKeys(ids :+ 3L, ids))
    expect("sameKeys catches a wrong key", !Checks.sameKeys(Seq(3L, 11L, 6L), ids))

    val acked = Map(1L -> 10.5, 2L -> 20.5)
    expect("lostWrites finds none in a faithful read", Checks.lostWrites(acked, acked + (3L -> 1.0)) == 0)
    expect("lostWrites catches a lost write", Checks.lostWrites(acked, acked - 2L) == 1)
    expect("lostWrites catches a stale value", Checks.lostWrites(acked, acked.updated(1L, 9.5)) == 1)

    val exact = Set(1L -> 2L, 3L -> 4L, 5L -> 6L, 7L -> 8L)
    expect("recall is 1 when every exact pair is found", Checks.recall(exact + (9L -> 10L), exact) == 1.0)
    expect("recall drops with a missed pair", Checks.recall(exact - (3L -> 4L), exact) == 0.75)
    ctx.notes += s"self-test: ${ctx.attempted} JVM-side cases"
  }
}
