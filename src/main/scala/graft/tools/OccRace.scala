package graft.tools

import graft.sources.KvSource

/** Cross-process OCC race driver (r17 — the r16 verdict's item 4: the
  * hard-link CAS + rebase is CLAIMED filesystem-atomic across
  * processes; this proves it with two separate JVMs instead of two
  * threads). One invocation plays one writer: it stages `nCommits`
  * ten-row files in its own DISJOINT key slice (slice s owns keys
  * [s·10⁶, s·10⁶ + 10·n)) and commits each pinned at the latest
  * version it observed, under [[KvSource.OccPolicy.KeyDisJoint]] —
  * so every time the OTHER process lands a commit in between, this
  * one must (a) lose the hard-link CAS and retry at the next version
  * number, and (b) REBASE its stale pin over the interleaved commit
  * by proving zone disjointness from the interleaved manifest's
  * `#stats:` alone. Any torn manifest, lost commit, double version,
  * or false conflict makes the process exit non-zero or the chain
  * non-dense — the spec and the `load_occ_crossproc` op assert both.
  *
  * No SparkSession: the commit log is deliberately driver-side file
  * I/O, which is exactly what makes a multi-process test this cheap.
  */
object OccRace {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: OccRace <path> <nCommits> <sliceId>")
    val path = args(0)
    val n = args(1).toInt
    val slice = args(2).toLong
    var i = 0
    while (i < n) {
      val lo = slice * 1000000L + i * 10L
      val name = s"part-race-$slice-$i.dat"
      val lines = (lo until lo + 10).map(k => s"$k,p$slice")
      // stage like a task commit: temp + atomic rename
      val tmp = java.nio.file.Paths.get(path, s".$name.tmp")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
      java.nio.file.Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(path, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // pin at the OBSERVED latest: every interleave from the other
      // process forces a real CAS retry + KeyDisjoint rebase. The ONE
      // legitimate surfaced conflict is an interleaved CHECKPOINT
      // version (canRebase refuses those by design, the Delta
      // metadata-conflict rule) — the caller then re-pins and
      // re-drives, exactly what a production writer does. Anything
      // else (torn manifest, lost commit, false conflict) exhausts
      // the retry budget and exits non-zero.
      var attempts = 0
      var committed = false
      while (!committed) {
        val v0 = KvSource.latestVersion(path)
        try {
          KvSource.commitVersionKeyed(path,
            Seq(KvSource.PartMeta(name, keys = Some((lo, lo + 9)), rows = Some(10L))), None,
            expectedPrior = v0,
            occ = KvSource.OccPolicy.KeyDisjoint(lo, lo + 9),
            op = Some("WRITE"))
          committed = true
        } catch {
          case e: IllegalStateException
              if e.getMessage != null &&
                e.getMessage.contains("concurrent commit") && attempts < 20 =>
            attempts += 1 // checkpoint interleave: re-pin, re-drive
        }
      }
      i += 1
    }
  }
}
