package perfbench

import java.util.SplittableRandom

import perfbench.Json.{Obj, obj}

/** Seeded input generators. Every stream is derived from the run's
  * seed and a stream name, so one seed fixes every input and the
  * streams do not shift when another stream draws more numbers.
  * Generators return plain Scala values; the workloads turn them into
  * DataFrames, so the engine only ever sees generated inputs.
  */
object Gen {

  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 0x632BE59BD9B4E019L)

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
  private def chance(r: SplittableRandom, p: Double): Boolean = r.nextDouble() < p
  private def dec(v: Double, digits: Int): String =
    s"%.${digits}f".formatLocal(java.util.Locale.ROOT, v)

  val Words: IndexedSeq[String] = IndexedSeq(
    "river", "empire", "harbor", "dragon", "garden", "castle", "trade", "forest",
    "quest", "island", "market", "tower", "valley", "crown", "shadow", "engine",
    "colony", "voyage", "legend", "frontier", "temple", "orchard", "canal", "comet",
    "summit", "citadel", "meadow", "relic", "mirage", "station", "harvest", "lantern",
    "glacier", "bazaar", "cipher", "delta", "ember", "falcon", "grove", "horizon")

  // ------------------------------------------------------------ refresh

  /** Parameters of the refresh generator. */
  final case class RefreshParams(
      games: Int = 240,
      fetchBatchSize: Int = 240,
      malformedShare: Double = 0.05,
      failFirstShare: Double = 0.08,
      embeddingDims: Int = 64,
      complexityShare: Double = 0.9)

  /** The 8 link kinds: (BGG link @type, core table kind, vocabulary size). */
  val LinkKinds: Seq[(String, String, Int)] = Seq(
    ("boardgamecategory", "categories", 60),
    ("boardgamemechanic", "mechanics", 120),
    ("boardgamefamily", "families", 200),
    ("boardgameexpansion", "expansions", 400),
    ("boardgameimplementation", "implementations", 300),
    ("boardgamedesigner", "designers", 400),
    ("boardgameartist", "artists", 400),
    ("boardgamepublisher", "publishers", 250))

  final case class Link(kind: String, id: Long, inbound: Boolean)

  /** One generated game: the values the parser should recover. Numeric
    * fields hold the EFFECTIVE value after the parser's lenient casts
    * (a garbage string in the payload is recorded here as 0).
    */
  final case class GameSpec(id: Long, name: String, links: Seq[Link],
      usersRated: Long, avgRating: Double, year: Option[Int])

  /** One raw response: `valid = false` payloads must be rejected by
    * the parser; `failsFirst` ids fail their first fetch attempt.
    */
  final case class Payload(id: Long, json: String, valid: Boolean, failsFirst: Boolean)

  final case class RefreshInput(payloads: IndexedSeq[Payload], specs: IndexedSeq[GameSpec],
      embeddings: IndexedSeq[(Long, Array[Double])], complexity: Map[Long, Double]) {
    def validIds: IndexedSeq[Long] = specs.map(_.id)
    def malformed: Int = payloads.count(!_.valid)
    /** Expected distinct (id) rows per dimension table. */
    def dimCounts: Map[String, Long] = LinkKinds.map { case (_, kind, _) =>
      kind -> specs.flatMap(_.links).filter(_.kind == kind).map(_.id).distinct.size.toLong
    }.toMap
    /** Expected distinct (game, id) rows per bridge table; inbound
      * implementations stay out of the bridge.
      */
    def bridgeCounts: Map[String, Long] = LinkKinds.map { case (_, kind, _) =>
      kind -> specs.flatMap(g => g.links.filter(l => l.kind == kind && !l.inbound)
        .map(l => (g.id, l.id))).distinct.size.toLong
    }.toMap
  }

  def entityName(kind: String, id: Long): String = s"${kind.stripSuffix("s")} $id"

  /** A stats value as the API sends it, sometimes garbage. Returns the
    * payload node and the value the lenient cast recovers.
    */
  private def statValue(r: SplittableRandom, v: Double, integral: Boolean): (Any, Double) = {
    val shown = if (integral) v.toLong.toString else dec(v, 5)
    r.nextInt(20) match {
      case 0 => (obj("@value" -> "invalid"), 0.0)
      case 1 => (obj("@value" -> "N/A"), 0.0)
      case 2 => (obj("@value" -> ""), 0.0)
      case 3 => (obj("@value" -> null), 0.0)
      case 4 if integral => (obj("@value" -> s"-${1 + r.nextInt(9)}"), 0.0)
      case 5 => (shown, if (integral) v.toLong.toDouble else shown.toDouble)
      case _ => (obj("@value" -> shown), if (integral) v.toLong.toDouble else shown.toDouble)
    }
  }

  private def playerPoll(r: SplittableRandom, maxP: Int): Any = {
    val results = (1 to maxP).map { n =>
      val votes = Seq("Best", "Recommended", "Not Recommended")
        .map(k => obj("@value" -> k, "@numvotes" -> r.nextInt(60).toString))
      obj("@numplayers" -> n.toString,
        "result" -> (if (chance(r, 0.1)) votes.head else votes))
    } :+ obj("@numplayers" -> s"$maxP+", "result" -> Seq(
      obj("@value" -> "Best", "@numvotes" -> "0"),
      obj("@value" -> "Recommended", "@numvotes" -> r.nextInt(5).toString),
      obj("@value" -> "Not Recommended", "@numvotes" -> r.nextInt(30).toString)))
    val shaped: Any = r.nextInt(10) match {
      case 0 => results.head // results as a single dict
      case 1 => Seq.empty[Obj] // no results
      case _ => results
    }
    obj("@name" -> "suggested_numplayers", "results" -> shaped)
  }

  private def otherPolls(r: SplittableRandom): Seq[Obj] = Seq(
    obj("@name" -> "language_dependence", "results" ->
      (if (chance(r, 0.15)) obj("result" -> "No necessary in-game text")
       else obj("result" -> (1 to 5).map(l => obj("@level" -> l.toString,
         "@value" -> s"level $l", "@numvotes" -> r.nextInt(20).toString))))),
    obj("@name" -> "suggested_playerage", "results" ->
      obj("result" -> Seq("6", "8", "10", "12", "14").map(a =>
        obj("@value" -> a, "@numvotes" -> r.nextInt(15).toString)))))

  /** Build one game's spec and its xmltodict-shaped payload, with the
    * FIXTURES §2 polymorphism: item dict vs list, name dict / string /
    * list, year as dict / string / "0" / non-digit, links as dict or
    * list with inbound implementations, polls single / empty / string
    * results, garbage stats, "Not Ranked" ranks, expansion items.
    */
  private def game(r: SplittableRandom, id: Long): (GameSpec, Obj) = {
    val primary = s"${pick(r, Words).capitalize} ${pick(r, Words).capitalize} $id"
    val alts = (0 until r.nextInt(3)).map(i =>
      obj("@type" -> "alternate", "@sortindex" -> (1 + i).toString,
        "@value" -> s"${pick(r, Words)} ${pick(r, Words)}"))
    val nameNode: (Any, String) = r.nextInt(10) match {
      case 0 => (primary, "Unknown") // bare string: an alternate, no primary
      case 1 | 2 => (obj("@type" -> "primary", "@value" -> primary), primary)
      case _ => (obj("@type" -> "primary", "@value" -> primary) +: alts, primary)
    }
    val y = 1960 + r.nextInt(66)
    val (yearNode, year): (Any, Option[Int]) = r.nextInt(20) match {
      case 0 => (obj("@value" -> "0"), None)
      case 1 => (obj("@value" -> "19xx"), None)
      case 2 | 3 => (y.toString, Some(y))
      case _ => (obj("@value" -> y.toString), Some(y))
    }
    val links = LinkKinds.flatMap { case (_, kind, vocab) =>
      val n = kind match {
        case "categories" | "mechanics" | "publishers" => 1 + r.nextInt(4)
        case "designers" => 1 + r.nextInt(2)
        case _ => r.nextInt(3)
      }
      Iterator.continually(1L + r.nextInt(vocab)).distinct.take(n).toSeq.sorted.map { lid =>
        Link(kind, lid, kind == "implementations" && chance(r, 0.3))
      }
    }
    val linkType = LinkKinds.map { case (t, k, _) => k -> t }.toMap
    val linkNodes = links.map(l => Obj(Seq("@type" -> linkType(l.kind),
      "@id" -> l.id.toString, "@value" -> entityName(l.kind, l.id)) ++
      (if (l.inbound) Seq("@inbound" -> "true") else Nil)))
    val minP = 1 + r.nextInt(3)
    val maxP = minP + r.nextInt(5)
    val popular = chance(r, 0.7)
    val usersRaw = if (popular) 100 + r.nextInt(40000) else r.nextInt(100)
    val (usersNode, users) = statValue(r, usersRaw.toDouble, integral = true)
    val (avgNode, avg) = statValue(r, 4.0 + r.nextDouble() * 5.0, integral = false)
    val ranked = chance(r, 0.8)
    val rankNodes = Seq(obj("@type" -> "subtype", "@id" -> "1", "@name" -> "boardgame",
      "@friendlyname" -> "Board Game Rank",
      "@value" -> (if (ranked) (1 + r.nextInt(20000)).toString else "Not Ranked"),
      "@bayesaverage" -> (if (ranked) dec(5.5 + r.nextDouble() * 2, 5) else "Not Ranked"))) ++
      (if (chance(r, 0.4)) Seq(obj("@type" -> "family", "@id" -> "5497",
        "@name" -> "strategygames", "@friendlyname" -> "Strategy Game Rank",
        "@value" -> (1 + r.nextInt(3000)).toString,
        "@bayesaverage" -> dec(5.5 + r.nextDouble() * 2, 5))) else Nil)
    val polls: Any = r.nextInt(10) match {
      case 0 => playerPoll(r, maxP) // a single poll dict
      case 1 => null // no polls at all
      case _ => playerPoll(r, maxP) +: otherPolls(r)
    }
    val item = Obj(Seq(
      "@id" -> id.toString,
      "@type" -> (if (chance(r, 0.15)) "boardgameexpansion" else "boardgame"),
      "name" -> nameNode._1,
      "yearpublished" -> yearNode,
      "minplayers" -> obj("@value" -> minP.toString),
      "maxplayers" -> obj("@value" -> maxP.toString),
      "playingtime" -> obj("@value" -> (15 * (1 + r.nextInt(12))).toString),
      "minplaytime" -> obj("@value" -> (15 * (1 + r.nextInt(4))).toString),
      "maxplaytime" -> obj("@value" -> (15 * (4 + r.nextInt(8))).toString),
      "minage" -> obj("@value" -> (6 + r.nextInt(10)).toString),
      "description" -> Seq.fill(12 + r.nextInt(30))(pick(r, Words)).mkString(" "),
      "thumbnail" -> s"https://img.example/$id/t.jpg",
      "image" -> s"https://img.example/$id/i.jpg",
      "link" -> (if (linkNodes.size == 1) linkNodes.head else linkNodes),
      "poll" -> polls,
      "statistics" -> obj("ratings" -> obj(
        "usersrated" -> usersNode, "average" -> avgNode,
        "bayesaverage" -> obj("@value" -> dec(5.5 + r.nextDouble() * 2, 5)),
        "stddev" -> obj("@value" -> dec(0.8 + r.nextDouble(), 5)),
        "median" -> obj("@value" -> "0"),
        "owned" -> obj("@value" -> r.nextInt(90000).toString),
        "trading" -> obj("@value" -> r.nextInt(900).toString),
        "wanting" -> obj("@value" -> r.nextInt(900).toString),
        "wishing" -> obj("@value" -> r.nextInt(9000).toString),
        "numcomments" -> obj("@value" -> r.nextInt(9000).toString),
        "numweights" -> obj("@value" -> r.nextInt(2000).toString),
        "averageweight" -> obj("@value" -> dec(1 + r.nextDouble() * 4, 4)),
        "ranks" -> obj("rank" -> (if (rankNodes.size == 1 && chance(r, 0.5)) rankNodes.head
                                  else rankNodes))))))
    // item as a single dict, or a list that also holds another item
    val itemNode: Any =
      if (chance(r, 0.2)) Seq(item, obj("@id" -> (id + 50000000L).toString,
        "@type" -> "boardgameexpansion", "name" -> obj("@type" -> "primary", "@value" -> "Decoy")))
      else item
    (GameSpec(id, nameNode._2, links, users.toLong, avg, year),
      obj("items" -> obj("item" -> itemNode)))
  }

  /** Payloads the parser must reject, one per kind of fault. */
  private def malformed(r: SplittableRandom, id: Long): String = r.nextInt(6) match {
    case 0 => Json.render(obj("items" -> obj()))
    case 1 => Json.render(obj("items" -> obj("item" -> obj("@id" -> id.toString,
      "name" -> obj("@type" -> "primary", "@value" -> "x"))))).dropRight(3)
    case 2 => Json.render(obj("items" -> obj("item" -> obj("@id" -> id.toString,
      "name" -> Seq(obj("@type" -> "alternate", "@sortindex" -> "first", "@value" -> "x"))))))
    case 3 => Json.render(obj("items" -> obj("item" -> obj("@id" -> id.toString,
      "link" -> obj("@type" -> "boardgamemechanic", "@id" -> "m-12", "@value" -> "x")))))
    case 4 => Json.render(obj("items" -> obj("item" -> obj("@id" -> id.toString,
      "minplayers" -> "3"))))
    case _ => Json.render(obj("items" -> obj("item" -> obj("@id" -> (id + 1).toString,
      "name" -> obj("@type" -> "primary", "@value" -> "wrong id")))))
  }

  def unitVector(r: SplittableRandom, dims: Int): Array[Double] = {
    val v = Array.fill(dims)(r.nextDouble() * 2 - 1)
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def refresh(seed: Long, p: RefreshParams = RefreshParams()): RefreshInput = {
    val r = rng(seed, "refresh")
    val ids = Iterator.continually(1L + r.nextInt(400000)).distinct.take(p.games).toIndexedSeq.sorted
    val generated = ids.map { id =>
      val failsFirst = chance(r, p.failFirstShare)
      if (chance(r, p.malformedShare)) (None, Payload(id, malformed(r, id), valid = false, failsFirst))
      else {
        val (spec, node) = game(r, id)
        (Some(spec), Payload(id, Json.render(node), valid = true, failsFirst))
      }
    }
    val specs = generated.flatMap(_._1)
    val er = rng(seed, "refresh-ml")
    val emb = specs.map(s => s.id -> unitVector(er, p.embeddingDims))
    val cx = specs.filter(_ => chance(er, p.complexityShare))
      .map(s => s.id -> (1.0 + (er.nextInt(4000) / 1000.0))).toMap
    RefreshInput(generated.map(_._2), specs, emb, cx)
  }

  /** One scheduled request: due offset (ns from phase start) and path. */
  final case class Req(dueNs: Long, path: String)

  // ----------------------------------------------------------- maintain

  final case class MaintainParams(
      games: Int = 10000,
      categories: Int = 80,
      catsPerGame: Int = 3,
      deltaRows: Int = 600,
      insertShare: Double = 0.4,
      updateShare: Double = 0.3,
      gamesShare: Double = 0.6,
      topK: Int = 5,
      publishEvery: Int = 2,
      vectors: Int = 500,
      readsPerSecond: Double = 1.0,
      readers: Int = 2)

  /** One changelog row: side "a" = games (game_id, rating), side "b" =
    * game_categories (game_id, category_id).
    */
  final case class Change(side: String, gameId: Long, kind: String, rating: Double, categoryId: Long)

  /** Stateful changelog generator: keeps both bases in memory so every
    * update and delete targets a live row, and so the final states are
    * known for the output checks.
    */
  final class Changelog(seed: Long, p: MaintainParams) {
    private val r = rng(seed, "maintain")
    val games = scala.collection.mutable.HashMap[Long, Double]()
    val cats = scala.collection.mutable.HashMap[Long, scala.collection.mutable.TreeSet[Long]]()
    private val live = scala.collection.mutable.ArrayBuffer[Long]()
    private val liveAt = scala.collection.mutable.HashMap[Long, Int]()
    private var nextId = 1L
    private def rating(): Double = math.round((1.0 + r.nextDouble() * 9.0) * 1000) / 1000.0
    private def addGame(): Long = {
      val id = nextId; nextId += 1
      games(id) = rating(); liveAt(id) = live.size; live += id
      id
    }
    private def dropGame(id: Long): Unit = {
      games.remove(id)
      val i = liveAt.remove(id).get; val last = live.last
      live(i) = last; live.remove(live.size - 1)
      if (last != id) liveAt(last) = i
    }
    private def catsOf(g: Long) = cats.getOrElseUpdate(g, scala.collection.mutable.TreeSet[Long]())
    (0 until p.games).foreach { _ =>
      val id = addGame()
      Iterator.continually(1L + r.nextInt(p.categories)).distinct
        .take(1 + r.nextInt(p.catsPerGame)).foreach(catsOf(id) += _)
    }
    val initialGames: Seq[(Long, Double)] = games.toSeq.sorted
    val initialCats: Seq[(Long, Long)] = catRows

    def catRows: Seq[(Long, Long)] =
      cats.toSeq.flatMap { case (g, cs) => cs.toSeq.map(c => (g, c)) }.sorted

    /** The top-k projection rows (category_id, game_id, rating) of game `g`. */
    def projection(g: Long): Set[(Long, Long, Double)] =
      games.get(g).toSeq.flatMap(rt => cats.get(g).toSeq.flatMap(_.map(c => (c, g, rt)))).toSet

    def projectionRows: Seq[(Long, Long, Double)] =
      games.keys.toSeq.sorted.flatMap(g => projection(g).toSeq.sorted)

    /** The next tick: base changelog rows plus the projection slice
      * (category_id, game_id, rating, _change_type) the top-k view needs.
      */
    def nextTick(): (Seq[Change], Seq[(Long, Long, Double, String)]) = {
      val out = Seq.newBuilder[Change]
      val before = scala.collection.mutable.LinkedHashMap[Long, Set[(Long, Long, Double)]]()
      def touch(g: Long): Unit = if (!before.contains(g)) before(g) = projection(g)
      var rows = 0
      while (rows < p.deltaRows) {
        val u = r.nextDouble()
        if (chance(r, p.gamesShare)) {
          if (u < p.insertShare) {
            val g = addGame(); touch(g); before(g) = Set.empty
            out += Change("a", g, "insert", games(g), 0L); rows += 1
          } else if (u < p.insertShare + p.updateShare) {
            val g = live(r.nextInt(live.size)); touch(g)
            val old = games(g); val nw = rating(); games(g) = nw
            out += Change("a", g, "update_preimage", old, 0L)
            out += Change("a", g, "update_postimage", nw, 0L); rows += 2
          } else {
            val g = live(r.nextInt(live.size)); touch(g)
            out += Change("a", g, "delete", games(g), 0L); dropGame(g); rows += 1
          }
        } else {
          val g = live(r.nextInt(live.size))
          val cs = catsOf(g)
          if (u < p.insertShare + p.updateShare / 2 || cs.isEmpty) {
            val c = 1L + r.nextInt(p.categories)
            if (!cs.contains(c)) {
              touch(g); cs += c
              out += Change("b", g, "insert", 0.0, c); rows += 1
            }
          } else {
            val c = cs.iterator.drop(r.nextInt(cs.size)).next()
            touch(g); cs -= c
            out += Change("b", g, "delete", 0.0, c); rows += 1
          }
        }
      }
      val slice = before.toSeq.sortBy(_._1).flatMap { case (g, pre) =>
        val post = projection(g)
        val removed = (pre -- post).toSeq.sorted
        val added = (post -- pre).toSeq.sorted
        removed.flatMap { case (c, gid, rt) =>
          added.find(x => x._1 == c && x._2 == gid) match {
            case Some((_, _, nrt)) => Seq((c, gid, rt, "update_preimage"), (c, gid, nrt, "update_postimage"))
            case None => Seq((c, gid, rt, "delete"))
          }
        } ++ added.filterNot(a => removed.exists(x => x._1 == a._1 && x._2 == a._2))
          .map { case (c, gid, rt) => (c, gid, rt, "insert") }
      }
      (out.result(), slice)
    }
  }

  /** `n` doc reads of uniform random ids, due at a fixed rate of
    * `perSecond`: evenly spaced arrivals sample every phase of the
    * ticks running beside them the same way in every run.
    */
  def readSchedule(seed: Long, perSecond: Double, ids: Int, n: Int): IndexedSeq[Req] = {
    val r = rng(seed, "maintain-reads")
    (0 until n).map(i => Req(((i + 0.5) * 1e9 / perSecond).toLong, s"/games/${r.nextInt(ids)}"))
  }
}
