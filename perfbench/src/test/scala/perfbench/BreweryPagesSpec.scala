package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Pipeline, Settings}

class BreweryPagesSpec extends AnyFunSuite {
  import BreweryPages._

  private val mapper = new ObjectMapper()

  private def records(src: BreweryPages): Seq[Map[String, String]] =
    (1 to src.pages).flatMap { p =>
      val it = mapper.readTree(src.fetch(p, PerPage).body).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map { o =>
        val fs = o.fieldNames()
        Iterator.continually(fs).takeWhile(_.hasNext).map(_.next())
          .map(k => k -> o.get(k).asText()).toMap
      }.toSeq
    }

  /** Silver's rules (clean, dedup on id, enforce) over the raw pages,
    * written without Spark. */
  private def silver(rs: Seq[Map[String, String]]): Map[String, (String, String, String)] = {
    def norm(r: Map[String, String], k: String) =
      r.get(k).map(_.trim).filter(_.nonEmpty)
    def coord(r: Map[String, String], k: String) =
      norm(r, k).flatMap(_.toDoubleOption)
    val cleaned = rs.map { r =>
      (r.get("id"), norm(r, "name"), norm(r, "country"),
        norm(r, "state").orElse(norm(r, "state_province")),
        norm(r, "brewery_type"), coord(r, "latitude"), coord(r, "longitude"))
    }
    cleaned.groupBy(_._1).toSeq.flatMap { case (id, rows) =>
      assert(rows.distinct.size == 1, s"duplicates of $id must clean identically")
      val (_, name, country, state, tpe, lat, lon) = rows.head
      val ok = id.isDefined && name.isDefined && country.isDefined &&
        state.isDefined && lat.forall(v => v >= -90 && v <= 90) &&
        lon.forall(v => v >= -180 && v <= 180)
      if (ok) Some(id.get -> (country.get, state.get, tpe.getOrElse(""))) else None
    }.toMap
  }

  test("pages are a pure function of (seed, date) and follow PER_PAGE") {
    val a = new BreweryPages(7, "2024-01-01", 1050)
    val b = new BreweryPages(7, "2024-01-01", 1050)
    assert(a.pages == 6)
    assert((1 to 6).map(a.fetch(_, PerPage)) == (1 to 6).map(b.fetch(_, PerPage)))
    assert(a.fetch(6, PerPage).records == 50)
    assert(graft.pipeline.Bronze.Pagination.parseLastPage(a.fetch(1, PerPage).linkHeader)
      .contains(6))
    // the last-page link follows the page size the caller asks for
    assert(graft.pipeline.Bronze.Pagination.parseLastPage(a.fetch(1, 100).linkHeader)
      .contains(11))
    assert(new BreweryPages(8, "2024-01-01", 1050).fetch(1, PerPage) != a.fetch(1, PerPage))
    assert(new BreweryPages(7, "2024-01-02", 1050).fetch(1, PerPage) != a.fetch(1, PerPage))
  }

  test("every dirty-row kind of FIXTURES.md A appears") {
    val src = new BreweryPages(3, "2024-01-01", 5000)
    val kinds = (0 until src.records).map(src.kind).toSet
    assert(kinds == Set(Clean, Duplicate, BlankName, MissingCountry,
      ProvinceFallback, NoState, TextLatitude, OutOfRange, MissingKeys))
    val rs = records(src)
    assert(rs.map(_("id")).distinct.size < rs.size, "duplicate ids")
    assert(rs.exists(r => r.get("state").exists(_.trim.isEmpty) &&
      r.get("state_province").exists(_.nonEmpty)), "state_province fallback")
    assert(rs.exists(_.get("latitude").contains("n/a")), "non-numeric latitude")
    assert(rs.exists(!_.contains("country")), "missing keys")
  }

  test("expected survivors and gold counts match silver's rules") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val src = new BreweryPages(seed, "2024-03-0" + seed, 4000)
      val survivors = silver(records(src))
      val exp = src.expected
      assert(exp.silverRows == survivors.size)
      assert(exp.gold == survivors.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong })
      assert(exp.gold.values.sum == exp.silverRows)
      assert(exp.silverRows < src.records, "dirty rows are dropped")
      assert(exp.goldKeys >= 100, "gold fans out over many partition keys")
    }
  }

  test("Pipeline.run on the generated pages produces the expected outputs") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    try {
      val root = Files.createTempDirectory(
        Files.createDirectories(Paths.get("target")), "perfbench-spec").toAbsolutePath.toString
      val settings = Settings(lakeRoot = s"$root/lake", bronzePrefix = "bronze",
        silverPrefix = "silver", goldPrefix = "gold",
        warehouseRoot = s"$root/warehouse", apiUrl = "unused", perPage = PerPage)
      val src = new BreweryPages(11, "2024-02-01", 1200)
      val report = Pipeline.run(spark, settings, src, Some("2024-02-01"), retryDelayMs = 0)
      assert(report.records == 1200 && report.pages == 6)
      assert(report.silverRows == src.expected.silverRows)
      assert(report.allChecksPassed)
      val slice = spark.read.parquet(settings.warehouseTableDir)
        .filter(col("ingestion_date") === to_date(lit("2024-02-01")))
        .collect().map(r => (r.getAs[String]("country"), r.getAs[String]("state"),
          r.getAs[String]("brewery_type")) -> r.getAs[Long]("brewery_count"))
        .toMap
      assert(slice == src.expected.gold)
    } finally spark.stop()
  }
}
