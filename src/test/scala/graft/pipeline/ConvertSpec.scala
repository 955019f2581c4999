package graft.pipeline

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** S5 convert step: the Sheets-export analogue — a non-CSV tabular inbox
  * file must land in raw/ as converted CSV, routed and manifested under
  * its converted name (mirroring `sync-drive-to-s3.py:59-66`, where only
  * the exported CSV ever reaches S3).
  */
class ConvertSpec extends AnyFunSuite {

  test("tsv inbox file is converted to RFC-4180 csv before routing") {
    val root = Files.createTempDirectory("graft-convert").toString
    val inbox = s"$root/inbox"
    Files.createDirectories(Paths.get(inbox))
    // tab-separated with a field needing quoting after conversion
    Files.writeString(Paths.get(s"$inbox/NH_Penalties_May2025.tsv"),
      "CCN\tProvider Name\tFine\n" +
        "015009\tALPINE, CARE \"A\"\t32500\n" +
        "015010\tBETA HOME\t0")

    val lake = Lake(s"$root/lake")
    val report = Ingest.run(inbox, lake, s"$root/manifest.json")

    // original removed, converted artifact ingested under .csv name
    assert(!Files.exists(Paths.get(s"$inbox/NH_Penalties_May2025.tsv")))
    assert(report.synced.map(_.fileName) == Seq("NH_Penalties_May2025.csv"))
    val landed = Paths.get(
      s"${lake.rawDomain("penalties")}/NH_Penalties_May2025.csv")
    assert(Files.exists(landed))
    val lines = Files.readString(landed).split("\n").toSeq
    assert(lines.head == "CCN,Provider Name,Fine")
    assert(lines(1) == "015009,\"ALPINE, CARE \"\"A\"\"\",32500")
    assert(lines(2) == "015010,BETA HOME,0")

    // idempotent: re-running ingests nothing new
    val again = Ingest.run(inbox, lake, s"$root/manifest.json")
    assert(again.synced.isEmpty)
    assert(again.skipped == Seq("NH_Penalties_May2025.csv"))
  }
}
