package graft

import java.nio.file.{Files, Paths}

import graft.frontier.{PartitionLineage, Snapshots}
import org.scalatest.funsuite.AnyFunSuite

/** The snapshot manifest's JSON: the committed format reads back, a
  * missing key is an error, and write → read is the identity. */
class ManifestSpec extends AnyFunSuite {

  // manifests as earlier engine versions wrote them (key order included)
  private val seed =
    """{"round":0,"parent":-1,"frontier_count":5,"seen_delta_count":5,""" +
      """"fetched":0,"errors":0,"deduped":0,"head_count":5,"backlog_pending":0,""" +
      """"backlog_phys_rows":0,"base_round":-1,"lineage":[]}"""
  private val round3 =
    """{"round":3,"parent":2,"frontier_count":40,"seen_delta_count":12,""" +
      """"fetched":16,"errors":1,"deduped":2,"head_count":30,""" +
      """"backlog_pending":10,"backlog_phys_rows":14,"base_round":1,""" +
      """"lineage":[{"round":3,"partition_id":0,"fetched":16,"deduped":2,""" +
      """"errors":0},{"round":3,"partition_id":-1,"fetched":0,"deduped":0,""" +
      """"errors":1}]}"""

  private val seedM = Snapshots.Manifest(0, -1, 5, 5, 0, 0, 0, Nil,
    headCount = 5, backlogPending = 0, backlogPhysRows = 0, baseRound = -1)
  private val round3M = Snapshots.Manifest(3, 2, 40, 12, 16, 1, 2,
    Seq(PartitionLineage(3, 0, 16, 2, 0), PartitionLineage(3, -1, 0, 0, 1)),
    headCount = 30, backlogPending = 10, backlogPhysRows = 14, baseRound = 1)

  private def commit(wh: String, round: Int, json: String): Unit = {
    val dir = Paths.get(Snapshots.snapDir(wh, round))
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("manifest.json"), json)
  }

  test("manifest JSON: committed format reads, missing key fails, round trip") {
    val wh = TestSpark.tmpDir("manifest-wh")
    Seq(seed -> seedM, round3 -> round3M).foreach { case (json, m) =>
      commit(wh, m.round, json)
      assert(Snapshots.readManifest(wh, m.round).contains(m))
    }
    assert(Snapshots.latestCommittedRound(wh).contains(3))
    val broken = TestSpark.tmpDir("manifest-broken")
    Seq(seedM -> seed, round3M -> round3).foreach { case (m, json) =>
      val noHead = json.replaceFirst(""""head_count":\d+,""", "")
      assert(noHead != json)
      commit(broken, m.round, noHead)
      intercept[Exception](Snapshots.readManifest(broken, m.round))
    }
    // write → read is the identity, and the written keys are the format's
    def keys(json: String) = "\"(\\w+)\":".r.findAllMatchIn(json)
      .map(_.group(1)).toSet
    val rt = TestSpark.tmpDir("manifest-rt")
    Seq(seedM -> seed, round3M -> round3).foreach { case (m, json) =>
      Snapshots.writeManifest(rt, m)
      assert(Snapshots.readManifest(rt, m.round).contains(m))
      val dir = Paths.get(Snapshots.snapDir(rt, m.round))
      assert(keys(Files.readString(dir.resolve("manifest.json"))) == keys(json))
      assert(!Files.exists(dir.resolve("manifest.json.tmp")))
    }
  }
}
