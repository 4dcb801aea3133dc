package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The fixtures are written by `perfbench/gen.py` (seeded, cached by
  * generator, seed and size). This object reads a fixture's parameters and
  * holds the planting rules the output checks derive expected values from.
  */
object Fixtures {

  /** `params.json` of a fixture: the generator's size parameters. */
  def params(dir: Path): Map[String, Long] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Files.readString(dir.resolve("params.json")), classOf[java.util.Map[String, Object]])
    m.asScala.collect { case (k, v: Number) => k -> v.longValue }.toMap
  }

  val Epoch: java.time.LocalDate = java.time.LocalDate.of(2025, 7, 1)
  val SecondsStep = 37L

  /** Day partition of row `i` when `rows` rows span `spanDays` days. */
  def dayOf(i: Long, rows: Long, spanDays: Long): String = {
    val stretch = spanDays * 86400.0 / (rows * SecondsStep)
    val sec = math.floor(i * SecondsStep * stretch).toLong
    Epoch.plusDays(sec / 86400).toString
  }

  /** WebGen's dirty variants (FIXTURES.md §1). */
  def isNullText(i: Long): Boolean = i % 53 == 0
  def isBadExtract(i: Long): Boolean = i % 71 == 0 && !isNullText(i)
  def isDupUrl(i: Long): Boolean = i % 97 == 0 && i > 0
}
