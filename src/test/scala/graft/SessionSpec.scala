package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** The [[Session]] policy against the frozen `Bench` builder, and
  * `Main`'s session under it. No session is started. */
class SessionSpec extends AnyFunSuite {

  /** Bench's `.config(key, value)` calls, read from its source: a quoted
    * value as written, an unquoted one (the thread count) as None. */
  private val benchKeys: Seq[(String, Option[String])] =
    """\.config\("([^"]+)",\s*(?:"([^"]*)"|\w+)\)""".r
      .findAllMatchIn(Files.readString(Paths.get("src/main/scala/graft/Bench.scala")))
      .map(m => m.group(1) -> Option(m.group(2))).toSeq

  private val localOnly = Session.localKeys(1).map(_._1).toSet

  test("Bench's builder is read: its five keys, the thread count the one unquoted value") {
    assert(benchKeys.map(_._1).toSet == Set("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "spark.sql.session.timeZone",
      "spark.ui.enabled"))
    assert(benchKeys.collect { case (k, None) => k } == Seq("spark.sql.shuffle.partitions"))
  }

  test("local policy: each of Bench's keys at Bench's value, the shuffle width at the thread count") {
    val local = (Session.keys ++ Session.localKeys(3)).toMap
    for ((k, v) <- benchKeys) assert(local.get(k) == Some(v.getOrElse("3")), k)
    assert(local("spark.master") == "local[3]")
  }

  test("Main's session carries the policy keys under an injected spark.master; width and UI stay the submitter's") {
    val conf = Main.sessionConf(new SparkConf(false).set("spark.master", "spark://host:7077")
      .set("spark.ui.enabled", "true"), "graft-t")
    assert(conf.get("spark.master") == "spark://host:7077")
    assert(conf.get("spark.app.name") == "graft-t")
    for ((k, v) <- Session.keys) assert(conf.get(k) == v, k)
    for ((k, v) <- benchKeys if !localOnly(k)) assert(conf.getOption(k) == v, k)
    assert(!conf.contains("spark.sql.shuffle.partitions"))
    assert(conf.get("spark.ui.enabled") == "true")
  }

  test("Main's session: a local master only when none was submitted") {
    val conf = Main.sessionConf(new SparkConf(false), "graft-t")
    assert(conf.get("spark.master") == s"local[${Runtime.getRuntime.availableProcessors}]")
    for ((k, v) <- Session.keys) assert(conf.get(k) == v, k)
  }
}
