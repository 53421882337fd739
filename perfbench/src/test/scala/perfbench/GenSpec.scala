package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.parse.BggParser

class GenSpec extends AnyFunSuite {

  private val small = Gen.RefreshParams(games = 120)
  private val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  private def fingerprint(in: Gen.RefreshInput) =
    (in.payloads, in.specs, in.embeddings.map { case (id, v) => (id, v.toSeq) }, in.complexity)

  test("refresh inputs are a function of the seed") {
    assert(fingerprint(Gen.refresh(5, small)) == fingerprint(Gen.refresh(5, small)))
    assert(Gen.refresh(5, small).payloads != Gen.refresh(6, small).payloads)
  }

  test("malformed payloads are exactly the ones the parser rejects") {
    val in = Gen.refresh(11, small)
    assert(in.malformed > 0 && in.payloads.exists(_.failsFirst))
    in.payloads.foreach { p =>
      val parsed = BggParser.processGame(p.id, p.json, "boardgame", ts)
      assert(parsed.isDefined == p.valid, s"payload ${p.id}: ${p.json.take(200)}")
    }
  }

  test("parsed games match the generator's specs") {
    val in = Gen.refresh(12, small)
    val specs = in.specs.map(s => s.id -> s).toMap
    in.payloads.filter(_.valid).foreach { p =>
      val g = BggParser.processGame(p.id, p.json, "boardgame", ts).get
      val s = specs(p.id)
      assert(g.primary_name == s.name)
      assert(g.year_published == s.year)
      assert(g.users_rated == s.usersRated)
      assert(g.average_rating == s.avgRating)
      val links = Seq(g.categories, g.mechanics, g.families, g.expansions, g.implementations,
        g.designers, g.artists, g.publishers).flatten.map(_.id).sorted
      assert(links == s.links.map(_.id).sorted)
    }
  }

  test("maintain changelog and read schedule are a function of the seed") {
    val p = Gen.MaintainParams(games = 500)
    def ticks(seed: Long) = {
      val c = new Gen.Changelog(seed, p)
      (c.initialGames, c.initialCats, (1 to 3).map(_ => c.nextTick()), c.catRows)
    }
    assert(ticks(3) == ticks(3))
    assert(ticks(3) != ticks(4))
    assert(Gen.readSchedule(3, 2.0, 100, 20) == Gen.readSchedule(3, 2.0, 100, 20))
    assert(Gen.readSchedule(3, 2.0, 100, 20) != Gen.readSchedule(4, 2.0, 100, 20))
    assert(Gen.readSchedule(3, 2.0, 100, 20).map(_.dueNs).last == 9750000000L)
  }

  test("changelog updates and deletes target live rows; the slice tracks the projection") {
    val c = new Gen.Changelog(9, Gen.MaintainParams(games = 300, deltaRows = 100))
    var proj = c.projectionRows.toSet
    (1 to 5).foreach { _ =>
      val before = c.games.clone()
      val (changes, slice) = c.nextTick()
      changes.filter(ch => ch.side == "a" && ch.kind != "insert").foreach { ch =>
        assert(before.contains(ch.gameId) || changes.exists(x => x.gameId == ch.gameId && x.kind == "insert"))
      }
      slice.foreach {
        case (cat, g, r, "insert" | "update_postimage") => proj += ((cat, g, r))
        case (cat, g, r, _) => proj -= ((cat, g, r))
      }
      assert(proj == c.projectionRows.toSet)
    }
  }
}
