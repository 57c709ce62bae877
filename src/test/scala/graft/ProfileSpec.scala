package graft

import java.nio.file.Files

/** The `graft.Profile` scenarios at the smallest sizes their own checks
  * accept, one rep each: every scale spot-check's equal-results
  * `require` (pruned vs full-scan vs one-shot; bounded vs windowed)
  * must hold, and the counts its summary reports must be positive.
  */
class ProfileSpec extends SparkTestBase {

  private def run(scenario: String, args: String*): Map[String, Any] =
    Profile.scenario(scenario)(spark, args).toMap

  private def field(s: Map[String, Any], k: String): Map[String, Any] =
    s(k).asInstanceOf[Seq[(String, Any)]].toMap

  private def positive(values: Iterable[Any]): Boolean =
    values.nonEmpty && values.forall {
      case n: Long => n > 0
      case d: Double => d > 0
      case _ => false
    }

  // doc 182 is the first to hold a query term; 200 docs get 2 write
  // splits, not 32: a 64 × 32-file commit alone takes ~45 s at 4 cores
  test("bm25: pruned, full-scan, serving and split layouts agree; scans are counted") {
    val s = run("bm25", "200", "1")
    for (k <- Seq("scan_files_pruned", "scan_mb_pruned", "scan_mb_fullscan",
                  "scan_mb_serve_total")) {
      assert(field(s, k).keySet == Set("200"), k)
      assert(positive(field(s, k).values), k)
    }
  }

  test("banded: both dials' pruned, full-scan and one-shot screens agree") {
    val s = run("banded", "100", "1")
    for (dial <- Seq("tokens", "srp")) {
      val d = s(dial).asInstanceOf[Seq[(String, Any)]].toMap
      assert(positive(field(d, "n_candidates").values), dial)
      assert(positive(field(d, "scan_files_pruned").values), dial)
      assert(positive(field(d, "scan_mb_pruned").values), dial)
    }
  }

  test("cluster: refresh and delete run at every size") {
    val s = run("cluster", "1000", "10", "1")
    assert(field(s, "median").keySet == Set("1000"))
    assert(field(s, "delete_median").keySet == Set("1000"))
  }

  test("exactsubstr: windows, duplicate hashes and spans are found") {
    // docs 0 and 10 carry the planted block at tokens 500-599
    val s = run("exactsubstr", "11", "600", "50", "1")
    assert(s("n_windows") == 11L * (600 - 50 + 1))
    assert(positive(Seq(s("n_dup_hashes"), s("n_spans"))))
  }

  test("rank: bounded and windowed ranks give the same coverage tail") {
    val s = run("rank", "10000", "1")
    assert(field(s, "coverage").keySet == Set("1", "10", "100", "1000", "10000"))
    assert(positive(field(s, "coverage").values))
  }

  test("query and plans profile catalog queries") {
    val out = Files.createTempDirectory("graft_profile_plans")
    try {
      val q = run("query", "q26_cosine_pairs", "1", sf("sf0.001"))
      assert(field(q, "median").keySet == Set("q26_cosine_pairs"))
      run("plans", out.toString, "q26_cosine_pairs", sf("sf0.001"), "_x")
      assert(Files.readString(out.resolve("q26_cosine_pairs_x.txt"))
        .contains("== Physical Plan =="))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }

  test("an unknown scenario is refused with the valid names") {
    val e = intercept[IllegalArgumentException](Profile.scenario("bm52"))
    assert(Profile.scenarios.keys.forall(e.getMessage.contains))
  }
}
