package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.{JobCount, SparkSpec}

/** Stage 2 over a raw lake: the concurrent per-domain fan-out, its empty
  * and failing domains, and the jobs it starts.
  */
class UniversalCleaningSpec extends SparkSpec {

  private def lakeWith(domains: (String, String)*): Lake = {
    val lake = Lake(Files.createTempDirectory("graft-cleaning").toString)
    domains.foreach { case (domain, body) =>
      val dir = Paths.get(lake.rawDomain(domain))
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"$domain.csv"), body)
    }
    lake
  }

  private def exists(path: String): Boolean = Files.exists(Paths.get(path))

  private val provider =
    "CMS Certification Number (CCN),Provider Name\n015009, ALPINE \n015010,BETA\n"

  test("header-only and zero-byte domains are skipped-empty, no staging") {
    val lake = lakeWith(
      "header_only" -> "CMS Certification Number (CCN),Provider Name\n",
      "zero_byte" -> "",
      "provider_info" -> provider)
    val status = new NursingHomePipeline(spark, lake).universalCleaning().toMap
    assert(status == Map("header_only" -> "skipped-empty",
      "zero_byte" -> "skipped-empty", "provider_info" -> "staged"))
    assert(!exists(lake.stagingDomain("header_only")))
    assert(!exists(lake.stagingDomain("zero_byte")))
    val staged = spark.read.parquet(lake.stagingDomain("provider_info"))
    assert(staged.count() == 2)
    assert(staged.filter("facility_name = 'ALPINE'").count() == 1)
  }

  test("no delivery keeps the staging output; a release without rows drops it") {
    val lake = lakeWith("provider_info" -> provider)
    val pipeline = new NursingHomePipeline(spark, lake)
    val raw = Paths.get(lake.rawDomain("provider_info"), "provider_info.csv")
    assert(pipeline.universalCleaning() == Seq("provider_info" -> "staged"))
    // archived, and the next delivery skipped by the manifest: empty dir
    Files.delete(raw)
    assert(pipeline.universalCleaning() ==
      Seq("provider_info" -> "skipped-empty"))
    assert(spark.read.parquet(lake.stagingDomain("provider_info")).count() == 2)
    Files.writeString(raw, "CMS Certification Number (CCN),Provider Name\n")
    assert(pipeline.universalCleaning() ==
      Seq("provider_info" -> "skipped-empty"))
    assert(!exists(lake.stagingDomain("provider_info")))
  }

  test("a failing domain goes to error/ while the others are staged") {
    // both names normalize to `a_b`: the cleaned frame cannot be written
    val lake = lakeWith(
      "broken" -> "A B,A-B\n1,2\n",
      "penalties" -> "CMS Certification Number (CCN),Fine Amount\n1,10\n",
      "provider_info" -> provider,
      "survey_summary" -> "CMS Certification Number (CCN),Survey Type\n1,H\n")
    val status = new NursingHomePipeline(spark, lake).universalCleaning().toMap
    assert(status("broken").startsWith("error:"), status("broken"))
    assert(Seq("penalties", "provider_info", "survey_summary")
      .forall(status(_) == "staged"), status)
    assert(!exists(lake.stagingDomain("broken")))
    assert(spark.read.parquet(lake.errorDomain("broken")).count() == 1)
    Seq("penalties", "provider_info", "survey_summary").foreach(d =>
      assert(Catalog.nonEmpty(lake.stagingDomain(d)), d))
  }

  test("one job per staged domain: no header or emptiness probes") {
    val lake = lakeWith(
      "penalties" -> "CMS Certification Number (CCN),Fine Amount\n1,10\n",
      "provider_info" -> provider,
      "qualitymsr_mds" -> "CMS Certification Number (CCN),Measure Code\n1,401\n",
      "survey_summary" -> "CMS Certification Number (CCN),Survey Type\n1,H\n")
    var status = Seq.empty[(String, String)]
    val jobs = JobCount(spark) {
      status = new NursingHomePipeline(spark, lake).universalCleaning()
    }
    assert(status.map(_._2) == Seq.fill(4)("staged"))
    assert(jobs == 4)
  }
}
