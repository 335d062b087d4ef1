package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** [[Sessions]] is the only session builder, its defaults apply unless a
  * `spark.*` key is already set, and [[Profile]]'s interval arithmetic
  * holds on disjoint, overlapping, nested and out-of-order spans. */
class SessionsSpec extends AnyFunSuite {

  test("no file under src/main or src/test but Sessions.scala builds a session") {
    // assembled here so this file does not match itself
    val needle = "SparkSession" + ".builder"
    val files = Seq("src/main", "src/test").map(Paths.get(_)).flatMap { root =>
      assert(Files.isDirectory(root), s"run from the project root: no $root")
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    }
    val hits = files.filter(p => Files.readString(p).contains(needle))
      .map(_.toString).sorted
    assert(hits.map(Paths.get(_).getFileName.toString) == Seq("Sessions.scala"),
      s"files that build their own session: $hits")
  }

  test("defaults fill every unset key; overrides beat defaults; a preset spark.* key beats both") {
    val c = Sessions.conf(3, Map("spark.sql.adaptive.enabled" -> "false"), new SparkConf(false))
    assert(Sessions.defaults(3).forall { case (k, v) => c.get(k) == v })
    assert(c.get("spark.master") == "local[3]")
    assert(c.get("spark.sql.shuffle.partitions") == "3")
    assert(c.get("spark.sql.adaptive.enabled") == "false")

    val preset = new SparkConf(false)
      .set("spark.master", "local[2]")
      .set("spark.sql.adaptive.enabled", "true")
    val p = Sessions.conf(3, Map("spark.master" -> "local[5]",
      "spark.sql.adaptive.enabled" -> "false"), preset)
    assert(p.get("spark.master") == "local[2]")
    assert(p.get("spark.sql.adaptive.enabled") == "true")
    assert(p.get("spark.sql.shuffle.partitions") == "3")
  }

  test("a -Dspark.* JVM property wins over the defaults") {
    val key = "spark.sql.shuffle.partitions"
    val saved = Option(System.getProperty(key))
    System.setProperty(key, "7")
    try assert(Sessions.conf(3, Map.empty).get(key) == "7")
    finally saved.fold(System.clearProperty(key))(System.setProperty(key, _))
  }

  test("busyAndGaps: union length and the holes between union intervals") {
    import Profile.busyAndGaps
    assert(busyAndGaps(Nil) == ((0L, Nil)))
    assert(busyAndGaps(Seq(5L -> 9L)) == ((4L, Nil)))
    // disjoint
    assert(busyAndGaps(Seq(0L -> 10L, 20L -> 30L, 35L -> 40L)) ==
      ((25L, Seq(10L -> 10L, 30L -> 5L))))
    // overlapping, and touching (no hole)
    assert(busyAndGaps(Seq(0L -> 10L, 5L -> 15L, 15L -> 18L)) == ((18L, Nil)))
    // nested: the inner span adds nothing
    assert(busyAndGaps(Seq(0L -> 20L, 5L -> 10L, 25L -> 30L)) ==
      ((25L, Seq(20L -> 5L))))
    // out of order: same answer as sorted
    val spans = Seq(0L -> 10L, 5L -> 15L, 12L -> 13L, 20L -> 30L, 40L -> 41L)
    val sorted = busyAndGaps(spans)
    assert(sorted == ((26L, Seq(15L -> 5L, 30L -> 10L))))
    assert(busyAndGaps(spans.reverse) == sorted)
    assert(busyAndGaps(scala.util.Random.shuffle(spans)) == sorted)
  }

  test("jobsIn counts the jobs its body starts and none of the sentinel's") {
    val sc = TestSpark.spark.sparkContext
    val run = Profile.jobsIn(sc, "sessions-spec") {
      sc.parallelize(1 to 10, 2).count() + sc.parallelize(1 to 5, 1).sum().toLong
    }
    assert(run.result == 25L)
    assert(run.jobs.size == 2)
    assert(run.jobs.forall(j => j.endMs >= j.startMs))
    assert(run.stages.map(_.tasks).sorted == Seq(1, 2))
    assert(Profile.jobsIn(sc, "sessions-spec-empty")(42).jobs.isEmpty)
  }
}
