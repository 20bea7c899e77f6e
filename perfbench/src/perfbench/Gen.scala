package perfbench

import java.math.{BigDecimal => JBig}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** One generated tribute event. Measures are whole cents. */
final case class Ev(id: String, game: String, tribute: String, cents: Array[Long]) {
  // heartrate, painlevel, hydrationlevel, hungerlevel, xcoordinate, ycoordinate
  def dec(i: Int): JBig = JBig.valueOf(cents(i), 2)

  def json: String = {
    val d = Gen.Measures.indices.map(i => s""""${Gen.Measures(i)}":${dec(i).toPlainString}""")
    s"""{"streamingeventid":"$id","gameid":"$game","tributeid":"$tribute",${d.mkString(",")}}"""
  }
}

/** A replicated tribute: its CSV row and the fields the expected state needs. */
final case class Tribute(raw: Seq[String]) {
  def id: String = raw(0)
  def district: String = raw(1)
  def firstName: String = raw(2)
  def age: String = raw(3)
  def minHydration: JBig = new JBig(raw(5))
  def maxHunger: JBig = new JBig(raw(6))
  def maxPain: JBig = new JBig(raw(7))
}

/** Seeded amplifier of the 9 fixture batches: N events over K tributes with
  * Zipf(1) or uniform key choice, the tribute dimension replicated K times.
  * It also computes, in plain Scala, the state the pipeline must converge to.
  *
  * Every generated measure except a dead tribute's zero heart rate has an
  * odd cent digit. The pipeline's thresholds are multiples of 0.50 and its
  * bounds multiples of 1, so no measure ever sits exactly on a CASE boundary
  * and the expected statuses do not depend on how Spark coerces the string
  * thresholds.
  */
final class Gen(fixtureRoot: Path, val keys: Int, zipf: Boolean, seed: Long) {
  import Gen._

  private val mapper = new ObjectMapper()

  private val baseTributes: IndexedSeq[Seq[String]] = {
    val lines = Files.readAllLines(fixtureRoot.resolve("staticData/tributeData.csv")).asScala
    lines.tail.filter(_.trim.nonEmpty).map(_.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq).toIndexedSeq
  }

  /** The 65 fixture events in the reference's replay order. */
  private val templates: IndexedSeq[Array[Long]] = ReplayOrder.flatMap { name =>
    val arr = mapper.readTree(fixtureRoot.resolve(s"streamingData/$name.json").toFile)
    arr.elements().asScala.map { n =>
      Measures.map(m => new JBig(n.get(m).asText()).movePointRight(2).longValueExact())
    }
  }.toIndexedSeq

  private val gameNode = mapper.readTree(fixtureRoot.resolve("staticData/gameData.json").toFile)
  private def game(field: String): JBig = new JBig(gameNode.get(field).asText())
  val gameId: String = gameNode.get("gameid").asText()

  val tributes: IndexedSeq[Tribute] = (0 until keys).map { k =>
    val b = baseTributes(k % baseTributes.size)
    val name = if (k < baseTributes.size) b(2) else s"${b(2)} ${k / baseTributes.size}"
    Tribute((k + 1).toString +: b(1) +: name +: b.drop(3))
  }
  private val byId: Map[String, Tribute] = tributes.iterator.map(t => t.id -> t).toMap

  private val zipfCdf: Array[Double] =
    if (!zipf) null
    else {
      val w = Array.tabulate(keys)(i => 1.0 / (i + 1))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }

  /** `n` events for stream `tag`; the same (seed, tag, n) gives the same events. */
  def events(tag: String, n: Int): IndexedSeq[Ev] = {
    val rnd = new SplittableRandom(seed * 1000003L + tag.hashCode)
    // random key ranks map to scattered tribute ids, so the hot keys are not
    // all replicas of the first fixture tributes
    val perm = {
      val p = Array.range(0, keys)
      val r = new SplittableRandom(seed)
      for (i <- keys - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t }
      p
    }
    (0 until n).map { i =>
      val tc = templates(i % templates.size)
      val rank =
        if (zipf) {
          val i0 = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
          math.min(if (i0 >= 0) i0 else -i0 - 1, keys - 1)
        } else rnd.nextInt(keys)
      val tribute =
        if (rnd.nextInt(UnknownOneIn) == 0) s"unknown-${rnd.nextInt(1000)}"
        else tributes(perm(rank)).id
      val cents = tc.zipWithIndex.map { case (c, m) =>
        if (m == 0 && c == 0) 0L // a dead tribute stays dead
        else {
          val v = c + rnd.nextInt(101) - 50
          if (math.abs(v % 2) == 1) v else v + 1
        }
      }
      Ev(s"$tag-$seed-$i", gameId, tribute, cents)
    }
  }

  def isKnown(e: Ev): Boolean = byId.contains(e.tribute)

  /** The 12-field state item the pipeline must hold for `e`'s tribute after
    * `e` is the last event seen for it. */
  def stateItem(e: Ev): Map[String, String] = {
    val t = byId(e.tribute)
    val Seq(hr, pain, hyd, hun, x, y) = e.cents.indices.map(e.dec)
    val half = new JBig("0.5")
    val five = JBig.valueOf(5)
    def lt(a: JBig, b: JBig) = a.compareTo(b) < 0
    val Seq(minX, maxX, minY, maxY) =
      Seq("minXCoordinate", "maxXCoordinate", "minYCoordinate", "maxYCoordinate").map(game)
    Map(
      "tributeId" -> t.id,
      "name" -> t.firstName,
      "district" -> t.district,
      "age" -> t.age,
      "status" -> (if (hr.signum == 0) "DEAD" else "ALIVE"),
      "heartRate" -> hr.toPlainString,
      "painStatus" -> (if (lt(t.maxPain, pain)) "INJURED" else "OK"),
      "hydrationStatus" ->
        (if (lt(hyd, t.minHydration)) "DEHYDRATED"
         else if (lt(hyd.subtract(t.minHydration), half)) "APPROACHING DEHYDRATION"
         else "OK"),
      "hungerStatus" ->
        (if (lt(t.maxHunger, hun)) "HUNGRY"
         else if (lt(t.maxHunger.subtract(hun), half)) "GETTING HUNGRY"
         else "OK"),
      "xCoordinate" -> x.toPlainString,
      "yCoordinate" -> y.toPlainString,
      "locationStatus" ->
        (if (lt(maxX, x) || lt(x, minX) || lt(maxY, y) || lt(y, minY)) "OUT OF BOUNDS"
         else if (lt(maxX.subtract(x), five) || lt(maxY.subtract(y), five) ||
                  lt(x.subtract(minX), five) || lt(y.subtract(minY), five)) "APPROACHING THE BOUNDARY"
         else "IN BOUNDS"))
  }

  /** Last-writer-wins over arrival order, known tributes only. */
  def expectedState(evs: Iterable[Ev]): Map[String, Map[String, String]] = {
    val last = scala.collection.mutable.HashMap.empty[String, Ev]
    evs.foreach(e => if (isKnown(e)) last(e.tribute) = e)
    last.iterator.map { case (k, e) => k -> stateItem(e) }.toMap
  }

  def writeTributeCsv(path: Path): Unit = {
    val header = Seq("tributeId", "district", "firstName", "age", "gender",
      "minHydrationThreshold", "maxHungerThreshold", "maxPainThreshold")
    val body = (header +: tributes.map(_.raw)).map(_.map(v => "\"" + v + "\"").mkString(","))
    Files.write(path, body.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Gen {
  val Measures = Array("heartrate", "painlevel", "hydrationlevel", "hungerlevel", "xcoordinate", "ycoordinate")
  val ReplayOrder = Seq("preCornucopia", "postCornucopia", "aFewDaysAfterCornucopia",
    "katnissEdgeOfMap", "katnissInjured", "afterSponsorHelpsKatniss",
    "afterRue", "almostTheEnd", "theEnd")
  /** One event in this many names an unknown tribute, which the enrich
    * inner join drops; the expected state and log exclude them. */
  val UnknownOneIn = 256

  def writeJsonArray(path: Path, evs: Seq[Ev]): Unit =
    Files.write(path, evs.map(_.json).mkString("[\n", ",\n", "\n]").getBytes(StandardCharsets.UTF_8))
}
