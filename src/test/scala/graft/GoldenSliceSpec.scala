package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.server.HttpApi

/** The SURVEY §7.2 minimum slice, end-to-end over the wire with the
  * reference's own integration fixture: the 20-point `aggr` series
  * (itest/test_select.py:41-51) inserted through /insert and queried
  * with the reference's golden expectations
  * (itest/test_select.py:166-175). */
class GoldenSliceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val client = HttpClient.newHttpClient()

  private def post(url: String, body: String): String = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    client.send(req, HttpResponse.BodyHandlers.ofString()).body()
  }

  test("select sum(1h)/count(1h) from 'aggr' reproduce the reference goldens") {
    val dir = Files.createTempDirectory("graft-golden").toString
    val api = new HttpApi(spark, dir)
    val port = api.start()
    val base = s"http://127.0.0.1:$port"
    try {
      val aggr = Seq(
        (1447250868, 530), (1447251168, 520), (1447249033, 531),
        (1447249337, 534), (1447249633, 535), (1447249937, 531),
        (1447250249, 532), (1447250549, 537), (1447251449, 54),
        (1447251749, 54), (1447252049, 513), (1447252349, 537),
        (1447253244, 533), (1447253549, 538), (1447253849, 534),
        (1447254149, 532), (1447252649, 528), (1447252968, 531),
        (1447254449, 533), (1447254748, 537))
      val points = aggr.map { case (t, v) => s"[$t, $v]" }.mkString(",")
      val ins = post(s"$base/insert/graft", s"""{"aggr": [$points]}""")
      assert(ins.contains("Successfully inserted 20 point(s)."))

      // itest/test_select.py:166-170
      val sum = post(s"$base/query/graft", """{"q": "select sum(1h) from 'aggr'"}""")
      assert(sum ===
        """{"aggr":[[1447250400,2663],[1447254000,5409],[1447257600,1602]]}""")

      // itest/test_select.py:172-175
      val cnt = post(s"$base/query/graft", """{"q": "select count(1h) from 'aggr'"}""")
      assert(cnt ===
        """{"aggr":[[1447250400,5],[1447254000,12],[1447257600,3]]}""")

      // the remaining aggregation goldens over the same fixture
      // (itest/test_select.py:176-250), compared numerically with the
      // itest's assertAlmostEqual tolerance for float buckets
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def golden(q: String, want: Seq[(Long, Double)]): Unit = {
        val res = mapper.readTree(post(s"$base/query/graft", s"""{"q": "$q"}"""))
        val got = res.get("aggr")
        assert(got != null && got.size() === want.size, s"$q → $res")
        want.zipWithIndex.foreach { case ((ts, v), i) =>
          assert(got.get(i).get(0).asLong() === ts, s"$q bucket $i ts")
          assert(math.abs(got.get(i).get(1).asDouble() - v) < 1e-9,
            s"$q bucket $i val: ${got.get(i).get(1).asDouble()} vs $v")
        }
      }
      golden("select mean(1h) from 'aggr'", Seq(
        1447250400L -> 532.6, 1447254000L -> 450.75, 1447257600L -> 534.0))
      golden("select median(1h) from 'aggr'", Seq(
        1447250400L -> 532.0, 1447254000L -> 530.5, 1447257600L -> 533.0))
      golden("select median_low(1h) from 'aggr'", Seq(
        1447250400L -> 532, 1447254000L -> 530, 1447257600L -> 533))
      golden("select median_high(1h) from 'aggr'", Seq(
        1447250400L -> 532, 1447254000L -> 531, 1447257600L -> 533))
      golden("select min(1h) from 'aggr'", Seq(
        1447250400L -> 531, 1447254000L -> 54, 1447257600L -> 532))
      golden("select max(1h) from 'aggr'", Seq(
        1447250400L -> 535, 1447254000L -> 538, 1447257600L -> 537))
      golden("select variance(1h) from 'aggr'", Seq(
        1447250400L -> 3.3, 1447254000L -> 34396.931818181816,
        1447257600L -> 7.0))
      golden("select pvariance(1h) from 'aggr'", Seq(
        1447250400L -> 2.6399999999999997, 1447254000L -> 31530.520833333332,
        1447257600L -> 4.666666666666667))
      golden("select difference(1h) from 'aggr'", Seq(
        1447250400L -> 1, 1447254000L -> -3, 1447257600L -> 5))
      golden("select derivative(1, 1h) from 'aggr'", Seq(
        1447250400L -> 0.0002777777777777778,
        1447254000L -> -0.0008333333333333333,
        1447257600L -> 0.001388888888888889))
      val filt = post(s"$base/query/graft", """{"q": "select filter(>534) from 'aggr'"}""")
      assert(filt ===
        """{"aggr":[[1447249633,535],[1447250549,537],[1447252349,537],[1447253549,538],[1447254748,537]]}""")

      // the between-form of the slice restricts to [A, B)
      val between = post(s"$base/query/graft",
        """{"q": "select sum(1h) from 'aggr' between 1447249033 and 1447254749"}""")
      assert(between ===
        """{"aggr":[[1447250400,2663],[1447254000,5409],[1447257600,1602]]}""")

      // the huge fixture (itest/test_select.py): int64-max values stay
      // exact through insert + select, and sum() errors instead of
      // wrapping (aggregate.c:1646-1652)
      val insHuge = post(s"$base/insert/graft",
        """{"huge": [[1471254705, 9223372036854775807], [1471254706, 9223372036854775806]]}""")
      assert(insHuge.contains("2 point(s)"))
      val huge = post(s"$base/query/graft", """{"q": "select * from 'huge'"}""")
      assert(huge ===
        """{"huge":[[1471254705,9223372036854775807],[1471254706,9223372036854775806]]}""")
      val overflow = post(s"$base/query/graft", """{"q": "select sum(1h) from 'huge'"}""")
      assert(overflow.contains("Overflow detected while using sum()"), overflow)

      // string ("log") series over the wire (itest/test_log.py shape):
      // insert text values, filter with ~, type errors for numeric fns
      val insLog = post(s"$base/insert/graft",
        """{"app log": [[100, "started"], [200, "error: disk"], [300, "stopped"]]}""")
      assert(insLog.contains("3 point(s)"))
      val logSel = post(s"$base/query/graft",
        """{"q": "select filter(~ 'error') from 'app log'"}""")
      assert(logSel === """{"app log":[[200,"error: disk"]]}""")
      val logType = post(s"$base/query/graft", """{"q": "select sum(1h) from 'app log'"}""")
      assert(logType.contains("Cannot use sum() on string type."), logType)
      val logLast = post(s"$base/query/graft", """{"q": "select last() from 'app log'"}""")
      assert(logLast === """{"app log":[[300,"stopped"]]}""")

      // limit(N, fn) goldens (itest/test_select.py:265-283): N >=
      // #points passes raw data through; small N re-buckets
      val lim300 = post(s"$base/query/graft",
        """{"q": "select limit(300, mean) from 'aggr'"}""")
      // raw passthrough (N >= #points); mean output is double, and the
      // itest's assertEqual(531, 531.0) is likewise numeric
      val l300 = mapper.readTree(lim300).get("aggr")
      val got300 = (0 until l300.size())
        .map(i => (l300.get(i).get(0).asLong(), l300.get(i).get(1).asDouble()))
      assert(got300 === aggr.sorted.map { case (t, v) => (t.toLong, v.toDouble) }, lim300)
      val lim1 = post(s"$base/query/graft",
        """{"q": "select limit(1, sum) from 'aggr'"}""")
      assert(lim1 === """{"aggr":[[1447254748,9674]]}""", lim1)
      val lim3 = post(s"$base/query/graft",
        """{"q": "select limit(3, mean) from 'aggr'"}""")
      val lm = mapper.readTree(lim3).get("aggr")
      assert(lm.size() === 3)
      assert(lm.get(0).get(0).asLong() === 1447250938L &&
        math.abs(lm.get(0).get(1).asDouble() - 532.8571428571429) < 1e-9, lim3)
      assert(lm.get(1).get(0).asLong() === 1447252844L &&
        math.abs(lm.get(1).get(1).asDouble() - 367.6666666666667) < 1e-9, lim3)
      assert(lm.get(2).get(0).asLong() === 1447254750L &&
        math.abs(lm.get(2).get(1).asDouble() - 534.0) < 1e-9, lim3)
    } finally api.stop()
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("difference chains and merge-using goldens — test_select.py:112-163") {
    val dir = Files.createTempDirectory("graft-golden2").toString
    val api = new graft.server.ApiCore(spark, dir)
    def q(s: String) = api.runQuery(s, 1L, "iris").toString
    val ins = mapper.createObjectNode()
    def series(name: String)(pts: (Long, Double)*): Unit = {
      val arr = ins.putArray(name)
      pts.foreach { case (t, v) => val a = arr.addArray(); a.add(t); a.add(v) }
    }
    val insI = ins.putArray("series-001 integer")
    Seq(1471254705L -> 5L, 1471254710L -> -7L, 1471254708L -> -3L).foreach {
      case (t, v) => val a = insI.addArray(); a.add(t); a.add(v)
    }
    series("series-001 float")(1471254707L -> -3.5, 1471254705L -> 1.5,
      1471254710L -> -7.3)
    api.runInsert(ins, "iris")
    assert(q("select difference() from 'series-001 integer'") ===
      """{"series-001 integer":[[1471254708,-8],[1471254710,-4]]}""")
    assert(q("select difference() => difference() from 'series-001 integer'") ===
      """{"series-001 integer":[[1471254710,4]]}""")
    assert(q("select difference() => difference() => difference() from 'series-001 integer'") ===
      """{"series-001 integer":[]}""")
    assert(q("select difference(1500000000) from 'series-001 integer'") ===
      """{"series-001 integer":[[1500000000,-12]]}""")
    // merge across the int+float family with an aggregate chain
    // (values promote to double; element medians over the union)
    assert(q("select * from /series-001.*/ merge as 'median_low' using median_low(1500000000)") ===
      """{"median_low":[[1500000000,-3.5]]}""")
    assert(q("select * from /series-001.*/ merge as 'median_high' using median_high(1500000000)") ===
      """{"median_high":[[1500000000,-3.0]]}""")
  }

  test("special nan/inf filter semantics — test_select.py:308-345") {
    val dir = Files.createTempDirectory("graft-special").toString
    val api = new graft.server.ApiCore(spark, dir)
    val ins = mapper.createObjectNode()
    val arr = ins.putArray("special")
    Seq(1471254705L -> 0.1, 1471254706L -> Double.NaN,
      1471254707L -> Double.PositiveInfinity,
      1471254708L -> Double.NegativeInfinity).foreach {
      case (t, v) => val a = arr.addArray(); a.add(t); a.add(v)
    }
    api.runInsert(ins, "iris")
    def tss(s: String): Seq[Long] = {
      val node = api.runQuery(s, 1L, "iris").get("special")
      if (node == null) Seq.empty
      else (0 until node.size()).map(i => node.get(i).get(0).asLong())
    }
    // C comparisons with NaN are false; the filter special-cases
    // equality, so ==/>=/<= nan keep only the NaN point
    assert(tss("select filter(!= nan) from 'special'") ===
      Seq(1471254705L, 1471254707L, 1471254708L))
    assert(tss("select filter(== nan) from 'special'") === Seq(1471254706L))
    assert(tss("select filter(>= nan) from 'special'") === Seq(1471254706L))
    assert(tss("select filter(<= nan) from 'special'") === Seq(1471254706L))
    assert(tss("select filter(> nan) from 'special'") === Seq.empty)
    assert(tss("select filter(== inf) from 'special'") === Seq(1471254707L))
    assert(tss("select filter(< inf) from 'special'") ===
      Seq(1471254705L, 1471254708L)) // NaN is NOT below +inf here
    assert(tss("select filter(> -inf) from 'special'") ===
      Seq(1471254705L, 1471254707L))
    assert(tss("select filter(> 0) from 'special'") ===
      Seq(1471254705L, 1471254707L)) // NaN never passes an ordering
  }

  test("log series round-trip empty/unicode/long values across restart — test_log.py") {
    val dir = Files.createTempDirectory("graft-log").toString
    val api = new graft.server.ApiCore(spark, dir)
    val long = ("Views of spacetime along the world line of a rapidly " +
      "accelerating observer in a relativistic universe. ") * 40
    val ins = mapper.createObjectNode()
    def put(name: String, pts: Seq[(Long, String)]): Unit = {
      val arr = ins.putArray(name)
      pts.foreach { case (t, v) => val a = arr.addArray(); a.add(t); a.add(v) }
    }
    put("empty", Seq(1471254710L -> "", 1471254712L -> ""))
    put("utf16", Seq(1471254710L -> "пример 時間 🕰 ţest"))
    put("long_log", Seq(1471254710L -> long))
    api.runInsert(ins, "iris")
    def check(a: graft.server.ApiCore): Unit = {
      assert(a.runQuery("select * from 'empty'", 1L, "iris").toString ===
        """{"empty":[[1471254710,""],[1471254712,""]]}""")
      val u = a.runQuery("select * from 'utf16'", 1L, "iris")
      assert(u.get("utf16").get(0).get(1).asText() === "пример 時間 🕰 ţest")
      val l = a.runQuery("select * from 'long_log'", 1L, "iris")
      assert(l.get("long_log").get(0).get(1).asText() === long)
    }
    check(api)
    check(new graft.server.ApiCore(spark, dir)) // restart
  }

  test("mixed-type select keeps each series' own type — test_series.py:27-113") {
    val dir = Files.createTempDirectory("graft-mixedsel").toString
    val api = new graft.server.ApiCore(spark, dir)
    // the itest's insert table: later points coerce to each series'
    // established type (first point wins)
    api.runInsert(mapper.readTree(
      """{"string": [[1538660000, "some string value"], [1538660010, -123456789],
        |            [1538660020, -0.5], [1538660030, 0.3333333333333333]],
        |  "integer": [[1538660000, 1], [1538660010, 35.6], [1538660020, "-50%"],
        |              [1538660030, ""], [1538660035, "garbage"],
        |              [1538660040, "18446744073709551616"],
        |              [1538660050, "-18446744073709551616"]],
        |  "double": [[1538660000, 1.0], [1538660010, -35], [1538660011, "-50%"],
        |             [1538660030, ""], [1538660035, "garbage"]]}""".stripMargin
        .replaceAll("\n\\s*", "")), "iris")
    // unknown series ('x', 'nexist') are silently omitted — the
    // SERIESMUSTEXIST branch is not compiled in (listener.c:1336-1347)
    val r = api.runQuery(
      """select * from "x", "string", "integer", "double", "nexist"""",
      1L, "iris")
    assert(r.toString ===
      """{"double":[[1538660000,1.0],[1538660010,-35.0],[1538660011,-50.0],""" +
      """[1538660030,0.0],[1538660035,0.0]],""" +
      """"integer":[[1538660000,1],[1538660010,35],[1538660020,-50],""" +
      """[1538660030,0],[1538660035,0],[1538660040,9223372036854775807],""" +
      """[1538660050,-9223372036854775808]],""" +
      """"string":[[1538660000,"some string value"],[1538660010,"-123456789"],""" +
      """[1538660020,"-0.500000"],[1538660030,"0.333333"]]}""")
    // mixed selections answer aggregates per family: count works on
    // all; first()/last() skip path keeps types; sum errors via the
    // string member exactly like the reference
    val c = api.runQuery("""select count() from "string", "integer"""", 1L, "iris")
    assert(c.get("string").get(0).get(1).asLong === 4L)
    assert(c.get("integer").get(0).get(1).asLong === 7L)
    val f = api.runQuery("""select first() from "string", "double"""", 1L, "iris")
    assert(f.get("string").get(0).get(1).asText === "some string value")
    assert(f.get("double").get(0).get(1).asDouble === 1.0)
    val e = intercept[graft.parser.QueryError](
      api.runQuery("""select sum(1d) from "string", "integer"""", 1L, "iris"))
    assert(e.msg === "Cannot use sum() on string type.")
    val m = intercept[graft.parser.QueryError](
      api.runQuery(
        """select * from "string", "integer" merge as "m" using sum(1d)""",
        1L, "iris"))
    assert(m.msg === "Cannot merge string and number series.")
    // chains of different output types each keep their own type:
    // count stays an integer even unioned with a float-valued mean
    val cm = api.runQuery(
      """select count() prefix "c-", mean() prefix "m-" from "integer"""",
      1L, "iris")
    assert(cm.get("c-integer").get(0).get(1).isIntegralNumber)
    assert(cm.get("c-integer").get(0).get(1).asLong === 7L)
    assert(cm.get("m-integer").get(0).get(1).isFloatingPointNumber)
  }

  test("mixed-type select with where and a dropped series keeps each survivor's own type") {
    val dir = Files.createTempDirectory("graft-mixedwhere").toString
    val api = new graft.server.ApiCore(spark, dir)
    api.runInsert(mapper.readTree(
      """{"int-a": [[1538660000, 5], [1538660010, 7]],
        |  "int-b": [[1538660000, 1], [1538660010, 2]],
        |  "flt-a": [[1538660000, 1.5], [1538660010, 2.5]],
        |  "flt-b": [[1538660000, 9.5]],
        |  "str-a": [[1538660000, "alpha"], [1538660010, "beta"],
        |            [1538660020, "gamma"]]}""".stripMargin
        .replaceAll("\n\\s*", "")), "iris")
    api.runQuery("drop series 'int-b' set ignore_threshold true", 1L, "iris")
    // int-b is tombstoned and flt-b (one point) fails the where; each
    // survivor's count is an integer and its first() keeps its type
    val r = api.runQuery(
      """select count(1d) prefix "c-", first(1d) prefix "f-" from /.*/ where length > 1""",
      1L, "iris")
    assert(r.toString ===
      """{"c-flt-a":[[1538697600,2]],"c-int-a":[[1538697600,2]],""" +
      """"c-str-a":[[1538697600,3]],"f-flt-a":[[1538697600,1.5]],""" +
      """"f-int-a":[[1538697600,5]],"f-str-a":[[1538697600,"alpha"]]}""")
  }

  test("prefixed per-chain merge golden — test_select.py:505-514") {
    val dir = Files.createTempDirectory("graft-presufmerge").toString
    val api = new graft.server.ApiCore(spark, dir)
    api.runInsert(mapper.readTree(
      """{"series-001 integer": [[1471254705, 5], [1471254710, -7], [1471254708, -3]],
        |"series-002 integer": [[1471254705, 4], [1471254708, -1], [1471254710, -8]],
        |"aggr": [[1447250868, 530], [1447251168, 520], [1447249033, 531],
        |  [1447249337, 534], [1447249633, 535], [1447249937, 531],
        |  [1447250249, 532], [1447250549, 537], [1447251449, 54],
        |  [1447251749, 54], [1447252049, 513], [1447252349, 537],
        |  [1447253244, 533], [1447253549, 538], [1447253849, 534],
        |  [1447254149, 532], [1447252649, 528], [1447252968, 531],
        |  [1447254449, 533], [1447254748, 537]],
        |"huge": [[1471254705, 9223372036854775807], [1471254706, 9223372036854775806],
        |  [1471254707, 9223372036854775805], [1471254708, 9223372036854775804]],
        |"equal ts": [[1471254705, 0], [1471254705, 1], [1471254705, 1],
        |  [1471254707, 0], [1471254707, 1], [1471254708, 0]],
        |"filter": [[1471254705, 5], [1471254710, -3], [1471254715, -7], [1471254720, 7]],
        |"one": [[1471254710, 1]]}""".stripMargin.replaceAll("\n\\s*", "")), "iris")
    // each chain merges separately into its presuf'd destination
    val r = api.runQuery(
      """select min(2h) prefix "min-", max(1h) prefix "max-" from /.*/ """ +
        """where type == integer and name != "filter" and name != "one" """ +
        """and name != "series-002 integer" """ +
        """merge as "int_min_max" using median_low(1) => difference()""",
      1L, "iris")
    assert(r.get("max-int_min_max").toString ===
      "[[1447254000,3],[1447257600,-1],[1471255200,-532]]")
    assert(r.get("min-int_min_max").toString ===
      "[[1447257600,-477],[1471255200,-54]]")
  }

  test("parser limits and merge-name validity — test_select.py:470-501") {
    val dir = Files.createTempDirectory("graft-limits").toString
    val api = new graft.server.ApiCore(spark, dir)
    api.runInsert(mapper.readTree("""{"aggr": [[100, 1], [200, 2]]}"""), "iris")
    def qerr(q: String): String =
      intercept[graft.parser.QueryError](api.runQuery(q, 1L, "iris")).msg
    // 6 nested where-parens overflow the reference's fixed cexpr stack
    assert(qerr("select * from 'aggr' where ((((((length > 1))))))") ===
      "Max depth reached in 'where' expression!")
    assert(api.runQuery("select * from 'aggr' where (((((length > 1)))))",
      1L, "iris").get("aggr").size === 2) // 5 levels parse fine
    // libcleri recursion cap at 500 nested series-match parens
    assert(qerr("select * from " + "(" * 501 + "'aggr'" + ")" * 501) ===
      "Memory allocation error or maximum recursion depth reached.")
    assert(api.runQuery("select * from " + "(" * 500 + "'aggr'" + ")" * 500,
      1L, "iris").get("aggr").size === 2)
    // MAX_QUERY_PKG_SIZE
    assert(qerr("select * from \"" + "a" * 65535 + "\"") === "Query too long.")
    // bad selection regex errors at parse like re.c
    assert(qerr("select * from /(bla/")
      .startsWith("Cannot compile regular expression"))
    // empty merge destination
    assert(qerr("""select * from 'aggr' merge as """"") ===
      "Error while merging points. Make sure the destination series name is valid.")
  }

  test("derivative over duplicate timestamps yields IEEE inf/nan — test_select.py:516") {
    val dir = Files.createTempDirectory("graft-eqts").toString
    val api = new graft.server.ApiCore(spark, dir)
    api.runInsert(mapper.readTree(
      """{"equal ts": [[1471254705, 0], [1471254705, 1], [1471254705, 1],
        |[1471254707, 0], [1471254707, 1], [1471254708, 0]]}"""
        .stripMargin.replaceAll("\n\\s*", "")), "iris")
    // C double division by a zero ts-delta is inf/nan, never an error
    val r = api.runQuery("select derivative() from 'equal ts'", 1L, "iris")
    val vals = (0 until r.get("equal ts").size)
      .map(i => r.get("equal ts").get(i).get(1).asText)
    assert(vals === Seq("Infinity", "NaN", "-0.5", "Infinity", "-1.0"))
  }

  test("multi-chain query caches are released after the response") {
    val dir = Files.createTempDirectory("graft-cachedrain").toString
    val api = new graft.server.ApiCore(spark, dir)
    api.runInsert(mapper.readTree("""{"aggr": [[100, 1], [200, 2]]}"""), "iris")
    def persisted() = spark.sparkContext.getPersistentRDDs.size
    // warm up any lazily-created shared state, then every further
    // distinct multi-chain shape must not add a lasting cache entry
    api.runQuery("select count() prefix 'w-', mean() prefix 'wm-' from 'aggr'",
      1L, "iris")
    val base = persisted()
    (1 to 3).foreach { i =>
      api.runQuery(
        s"select count() prefix 'c$i-', mean() prefix 'm$i-' from 'aggr'",
        1L, "iris")
    }
    assert(persisted() <= base,
      s"query caches leaked: $base -> ${persisted()}")
  }

  test("insert validation with reference error strings — test_insert.py:97-140") {
    val dir = Files.createTempDirectory("graft-insval").toString
    val api = new graft.server.ApiCore(spark, dir)
    def ins(json: String) = api.runInsert(mapper.readTree(json), "iris")
    def insErr(json: String): String =
      intercept[graft.parser.QueryError](ins(json)).msg
    // empty map / empty array → zero-point success (test_insert.py:71-77)
    assert(ins("{}").get("success_msg").asText ===
      "Successfully inserted 0 point(s).")
    assert(ins("[]").get("success_msg").asText ===
      "Successfully inserted 0 point(s).")
    assert(insErr("""[{}]""") === "Expecting a map with name and points.")
    assert(insErr("""{"None": [[1, null]]}""") ===
      "Unsupported value received. (only integer, float and string values are supported).")
    assert(insErr("""{"no points": []}""") ===
      "Expecting a series to have at least one point.")
    assert(insErr("""{"no points": [[]]}""").startsWith(
      "Expecting a series name (string value)"))
    assert(ins("""{"ts_zero": [[0, 1]]}""").get("success_msg").asText ===
      "Successfully inserted 1 point(s).") // ts 0 is valid
    assert(insErr("""{"invalid ts": [[0.5, 6]]}""") ===
      "Expecting an integer value as time-stamp.")
    assert(insErr("""{"invalid ts": [[-1, 6]]}""") ===
      "Received at least one time-stamp which is out-of-range.")
    assert(insErr("""{"": [[1, 0]]}""").startsWith(
      "Expecting a series name (string value)"))
    assert(insErr("""[{"name": "", "points": [[1, 0]]}]""").startsWith(
      "Expecting a series name (string value)"))
    assert(insErr(""""[]"""") ===
      "Expecting an array or map containing series and points.")
  }

  test("reference error strings for invalid filters/args — test_select.py:420-470") {
    val dir = Files.createTempDirectory("graft-errs").toString
    val api = new graft.server.ApiCore(spark, dir)
    val ins = mapper.createObjectNode()
    val na = ins.putArray("aggr"); val a1 = na.addArray(); a1.add(100L); a1.add(5L)
    val la = ins.putArray("log"); val l1 = la.addArray(); l1.add(100L); l1.add("x")
    api.runInsert(ins, "iris")
    def errOf(q: String): String =
      intercept[graft.parser.QueryError](api.runQuery(q, 1L, "iris")).msg
    assert(errOf("select filter(~ /x/) from 'log'").startsWith(
      "Regular expressions can only be used with"))
    assert(errOf("select filter(/x/) from 'aggr'") ===
      "Cannot use a string filter on number type.")
    assert(errOf("select filter('0') from 'aggr'") ===
      "Cannot use a string filter on number type.")
    assert(errOf("select * from 'aggr' merge as 't' using filter('0')") ===
      "Cannot use a string filter on number type.")
    assert(errOf("select mean(1w) from 'log'") ===
      "Cannot use mean() on string type.")
    assert(errOf("select mean(0) from 'aggr'") ===
      "Group by time must be an integer value larger than zero.")
    assert(errOf("select limit(6 - 6, mean) from 'aggr'") ===
      "Limit must be an integer value larger than zero.")
    assert(errOf("select difference() from 'log'") ===
      "Cannot use difference() on string type.")
    assert(errOf("select derivative() from 'log'") ===
      "Cannot use derivative() on string type.")
    assert(errOf("select * from `nope`") ===
      "Cannot find group or tag 'nope'") // listener.c:911
  }

  test("tag membership follows drops and tag set-algebra — test_tags.py") {
    val dir = Files.createTempDirectory("graft-tags").toString
    val api = new graft.server.ApiCore(spark, dir)
    val ins = mapper.createObjectNode()
    for (n <- Seq("series-001", "series-002", "linux-001", "one")) {
      val arr = ins.putArray(n)
      val a = arr.addArray(); a.add(100L); a.add(1L)
    }
    api.runInsert(ins, "iris")
    def q(s: String) = api.runQuery(s, 1L, "iris").toString
    assert(q("alter series /series.*/ tag `SERIES`").contains(
      "Successfully tagged 2 series."))
    assert(q("alter series /.*/ tag `ALL`").contains(
      "Successfully tagged 4 series."))
    assert(q("alter series /empty/ tag `EMPTY`").contains(
      "Successfully tagged 0 series."))
    // tag set-algebra inside an alter selection
    assert(q("alter series `ALL` - `SERIES` tag `OTHER`").contains(
      "Successfully tagged 2 series."))
    assert(q("alter series 'one' untag `OTHER`").contains(
      "Successfully untagged 1 series."))
    def tags(): Seq[(String, Long)] = {
      val node = api.runQuery("list tags name, series", 1L, "iris").get("rows")
      (0 until node.size())
        .map(i => (node.get(i).get(0).asText(), node.get(i).get(1).asLong()))
        .sorted
    }
    assert(tags() === Seq(("ALL", 4L), ("EMPTY", 0L), ("OTHER", 1L), ("SERIES", 2L)))
    // dropping a series shrinks every tag that contained it
    // (itest/test_tags.py:219-233)
    q("drop series 'series-001' set ignore_threshold true")
    assert(tags() === Seq(("ALL", 3L), ("EMPTY", 0L), ("OTHER", 1L), ("SERIES", 1L)))
    assert(q("count series `SERIES`").contains("[1]"))
    assert(q("drop tag `EMPTY`").contains("Successfully dropped tag 'EMPTY'."))
    assert(tags().map(_._1) === Seq("ALL", "OTHER", "SERIES"))
  }

  test("set algebra with parentheses through list series — test_parentheses.py") {
    val dir = Files.createTempDirectory("graft-paren").toString
    val api = new graft.server.ApiCore(spark, dir)
    val ins = mapper.createObjectNode()
    for (fam <- Seq("series", "linux", "windows"); i <- 1 to 4) {
      val arr = ins.putArray(f"$fam-$i%03d")
      val a = arr.addArray(); a.add(100L); a.add(1L)
    }
    api.runInsert(ins, "iris")
    def names(q: String): Seq[String] = {
      val node = api.runQuery(q, 1L, "iris").get("rows")
      (0 until node.size()).map(node.get(_).get(0).asText()).sorted
    }
    assert(names("""list series all - ("series-001" | "series-002" | /windows.*/)""") ===
      Seq("linux-001", "linux-002", "linux-003", "linux-004",
        "series-003", "series-004"))
    assert(names("""list series all - ("series-001" | "series-002" | (/windows.*/ & /.*001/))""") ===
      Seq("linux-001", "linux-002", "linux-003", "linux-004",
        "series-003", "series-004", "windows-002", "windows-003", "windows-004"))
    assert(names("""list series (/.*001/ & /linux.*/) - /.*001/""") === Seq.empty)
    assert(names("""list series all - ("series-001" | "series-002" | (/windows.*/ - /.*001/))""") ===
      Seq("linux-001", "linux-002", "linux-003", "linux-004",
        "series-003", "series-004", "windows-001"))
    assert(names("""list series ("series-001" | "series-002" | /windows.*/) - /.*003/""") ===
      Seq("series-001", "series-002", "windows-001", "windows-002",
        "windows-004"))
    assert(names("""list series all - (/series.*/ ^ /.*001/)""") ===
      Seq("linux-002", "linux-003", "linux-004", "series-001",
        "windows-002", "windows-003", "windows-004"))
    assert(names("""list series /.*001/ & (/series.*/ | /linux.*/)""") ===
      Seq("linux-001", "series-001"))
    assert(names("""list series /.*001/ & ((((/series.*/ | /linux.*/))))""") ===
      Seq("linux-001", "series-001"))
  }

  test("filter regex ==//!= on string series — test_select.py:250-263") {
    val dir = Files.createTempDirectory("graft-fre").toString
    val api = new graft.server.ApiCore(spark, dir)
    val ins = mapper.createObjectNode()
    val arr = ins.putArray("log")
    Seq(1471254710L -> "log line one", 1471254712L -> "log line two",
      1471254714L -> "another line (three)", 1471254716L -> "and yet one more")
      .foreach { case (t, v) => val a = arr.addArray(); a.add(t); a.add(v) }
    api.runInsert(ins, "iris")
    def q(s: String) = api.runQuery(s, 1L, "iris").toString
    val matched = """{"log":[[1471254710,"log line one"],[1471254712,"log line two"]]}"""
    assert(q("select filter(/l.*/) from 'log'") === matched)
    assert(q("select filter(==/l.*/) from 'log'") === matched)
    assert(q("select filter(!=/l.*/) from 'log'") ===
      """{"log":[[1471254714,"another line (three)"],[1471254716,"and yet one more"]]}""")
  }
}
