package graft.git

import org.scalatest.funsuite.AnyFunSuite

/** [[StoreHeader]] rendered and parsed back. */
class StoreHeaderSpec extends AnyFunSuite {

  private def roundTrip(h: StoreHeader): StoreHeader =
    StoreHeader.parse(h.render.linesIterator.toSeq)

  private val head = RepoHead("main", "0123456789abcdef0123456789abcdef01234567", exact = true)
  private val stats = PartStats(3, 10, 2, 4, 1, -5L, 1700000000000000L)

  test("a header with tag digests and repo names that need escaping round-trips") {
    val names = Seq("plain", "with space", "a=b", "both = and space", "pct%20", "tab\there")
    val h = StoreHeader(names.map(_ -> head).toMap, names.map(_ -> stats).toMap, Some(7),
      names.map(n => n -> StoreHeader.tagsDigest(n)).toMap)
    assert(roundTrip(h) == h)
    assert(h.render.linesIterator.count(_.startsWith("tags ")) == names.size)
  }

  test("a header with no tag digests round-trips, and so does the empty header") {
    val h = StoreHeader(Map("r" -> head.copy(exact = false)), Map("r" -> stats), Some(0), Map.empty)
    assert(roundTrip(h) == h)
    assert(!h.render.contains("tags "))
    assert(roundTrip(StoreHeader.empty) == StoreHeader.empty)
  }

  test("a header written before tag digests parses with none") {
    val old = Seq(s"head my%20repo main ${head.sha} true", "stats my%20repo 3 10 2 4 1 -5 9", "authors 2")
    val h = StoreHeader.parse(old)
    assert(h == StoreHeader(Map("my repo" -> head), Map("my repo" -> stats.copy(maxAt = 9)),
      Some(2), Map.empty))
    assert(roundTrip(h) == h)
  }

  test("the tags digest is the SHA-256 of the output, in hex") {
    assert(StoreHeader.tagsDigest("") ==
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855")
    assert(StoreHeader.tagsDigest("v1|tag|x") != StoreHeader.tagsDigest("v1|tag|y"))
  }
}
