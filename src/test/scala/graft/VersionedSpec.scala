package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Versioned

/** Edge cases of the versioned-commit protocol that the op-level tests
  * (scan_time_travel / maintenance_vacuum / PipelineSpec retention) don't
  * reach: empty roots, out-of-range history lookups, replayed commits, and
  * the keep-everything retention bound. Pure filesystem — no Spark jobs. */
class VersionedSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def freshRoot(): Path =
    new Path(TempDirs.tmp("graft_vspec_"))

  private def mkVersion(root: Path, name: String): Path = {
    val dir = Versioned.stagePath(root, Some(name))
    val f = dir.getFileSystem(conf)
    f.mkdirs(dir)
    val out = f.create(new Path(dir, "part-0"), true)
    try out.write(name.getBytes("UTF-8")) finally out.close()
    dir
  }

  test("empty root: no current, empty history, no versionDir") {
    val root = freshRoot()
    assert(Versioned.current(root, conf).isEmpty)
    assert(Versioned.history(root, conf).isEmpty)
    assert(Versioned.versionDir(root, 0, conf).isEmpty)
  }

  test("history records commit order; out-of-range lookup is None") {
    val root = freshRoot()
    for (n <- Seq("a", "b", "c"))
      Versioned.commit(root, mkVersion(root, n), conf, keepVersions = 3)
    assert(Versioned.history(root, conf) === Seq("a", "b", "c"))
    assert(Versioned.current(root, conf).map(_.getName) === Some("c"))
    assert(Versioned.versionDir(root, 1, conf).map(_.getName) === Some("b"))
    assert(Versioned.versionDir(root, 3, conf).isEmpty)
    assert(Versioned.versionDir(root, -1, conf).isEmpty)
  }

  test("replaying a commit of the same name does not duplicate history") {
    val root = freshRoot()
    val dir = mkVersion(root, "b0")
    Versioned.commit(root, dir, conf, keepVersions = 4)
    Versioned.commit(root, dir, conf, keepVersions = 4) // at-least-once replay
    assert(Versioned.history(root, conf) === Seq("b0"))
  }

  test("keepVersions larger than history keeps everything; 1 keeps current only") {
    val root = freshRoot()
    for (n <- Seq("a", "b"))
      Versioned.commit(root, mkVersion(root, n), conf, keepVersions = 10)
    val f = root.getFileSystem(conf)
    assert(f.exists(new Path(root, "a")) && f.exists(new Path(root, "b")))
    Versioned.commit(root, mkVersion(root, "c"), conf) // default keep = 1
    assert(!f.exists(new Path(root, "a")) && !f.exists(new Path(root, "b")))
    assert(f.exists(new Path(root, "c")))
    // audit log survives the GC even though the dirs are gone
    assert(Versioned.history(root, conf) === Seq("a", "b", "c"))
    assert(Versioned.versionDir(root, 0, conf).isEmpty, "GC'd dir must not resolve")
    assert(Versioned.versionDir(root, 2, conf).map(_.getName) === Some("c"))
  }

  test("vacuum sweeps never-committed staged dirs but keeps current") {
    val root = freshRoot()
    Versioned.commit(root, mkVersion(root, "v1"), conf, keepVersions = 2)
    mkVersion(root, "stale_stage") // crashed stage, never committed
    Versioned.vacuum(root, conf, keepVersions = 2)
    val f = root.getFileSystem(conf)
    assert(!f.exists(new Path(root, "stale_stage")))
    assert(f.exists(new Path(root, "v1")))
    assert(Versioned.isCommitted(root, new Path(root, "v1"), conf))
  }

  test("crash between history append and pointer swap recovers on replay") {
    // _history is the write-ahead record: simulate a crash where v2 made it
    // into the log but _current still points at v1. The replay guard must
    // say NOT committed (so the deterministic batch re-runs), and the
    // re-commit must dedup the log entry rather than double-append.
    val root = freshRoot()
    Versioned.commit(root, mkVersion(root, "v1"), conf, keepVersions = 3)
    val v2 = mkVersion(root, "v2")
    val f = root.getFileSystem(conf)
    val hout = f.create(new Path(root, "_history"), true)
    try hout.write("v1\nv2".getBytes("UTF-8")) finally hout.close()
    // crash state: logged but not current
    assert(Versioned.history(root, conf) === Seq("v1", "v2"))
    assert(!Versioned.isCommitted(root, v2, conf))
    assert(Versioned.current(root, conf).map(_.getName) === Some("v1"))
    // replay re-stages the same name and commits again
    Versioned.commit(root, v2, conf, keepVersions = 3)
    assert(Versioned.history(root, conf) === Seq("v1", "v2"))
    assert(Versioned.isCommitted(root, v2, conf))
    assert(Versioned.versionDir(root, 1, conf).map(_.getName) === Some("v2"))
  }

  test("commitExclusive: two writers race from one parent, one wins, log stays linear") {
    val root = freshRoot()
    Versioned.commit(root, mkVersion(root, "base"), conf, keepVersions = 5)
    // both writers stage from parent 'base'
    val a = mkVersion(root, "wa")
    val b = mkVersion(root, "wb")
    Versioned.commitExclusive(root, a, conf, Some("base"), keepVersions = 5)
    val e = intercept[Versioned.CommitConflictException] {
      Versioned.commitExclusive(root, b, conf, Some("base"), keepVersions = 5)
    }
    assert(e.getMessage.contains("concurrent write"))
    // winner committed, loser left no trace in the log, no rows lost
    assert(Versioned.current(root, conf).map(_.getName) === Some("wa"))
    assert(Versioned.history(root, conf) === Seq("base", "wa"))
  }

  test("commitExclusive: marker collision fences a slow writer that passed the pointer check") {
    // simulate the narrow race: writer B read current == 'base', then A
    // claimed the successor slot; B must collide on the marker even though
    // _current has not moved yet (we claim A's marker by hand). A's staged
    // dir exists — a faithful LIVE claimant, so the dead-owner reclaim must
    // NOT fire.
    val root = freshRoot()
    Versioned.commit(root, mkVersion(root, "base"), conf, keepVersions = 5)
    mkVersion(root, "wa") // A staged before claiming — alive mid-commit
    val f = root.getFileSystem(conf)
    val out = f.create(new Path(root, "_commit_00001"), false)
    try out.write("wa".getBytes("UTF-8")) finally out.close()
    val b = mkVersion(root, "wb")
    intercept[Versioned.CommitConflictException] {
      Versioned.commitExclusive(root, b, conf, Some("base"), keepVersions = 5)
    }
    assert(Versioned.current(root, conf).map(_.getName) === Some("base"))
  }

  test("commitExclusive: replay of the same dir name is idempotent") {
    val root = freshRoot()
    val v1 = mkVersion(root, "v1")
    Versioned.commitExclusive(root, v1, conf, None, keepVersions = 5)
    // at-least-once replay: same dir, same parent — proceeds, no dup entry
    Versioned.commitExclusive(root, v1, conf, None, keepVersions = 5)
    assert(Versioned.history(root, conf) === Seq("v1"))
    // a SECOND writer bootstrapping from the empty parent still conflicts
    intercept[Versioned.CommitConflictException] {
      Versioned.commitExclusive(root, mkVersion(root, "v1b"), conf, None,
        keepVersions = 5)
    }
  }

  test("commitExclusive: a crashed claimant's marker is reclaimed, not a wedge") {
    // writer A claimed the successor slot then died before commit; its
    // staged dir was since GC'd by a vacuum. A new writer from the same
    // parent must reclaim the ordinal (owner absent from _history AND its
    // dir gone = provably dead) instead of the table being wedged forever.
    val root = freshRoot()
    Versioned.commit(root, mkVersion(root, "base"), conf, keepVersions = 5)
    val f = root.getFileSystem(conf)
    val out = f.create(new Path(root, "_commit_00001"), false)
    try out.write("dead_wa".getBytes("UTF-8")) finally out.close()
    val b = mkVersion(root, "wb")
    Versioned.commitExclusive(root, b, conf, Some("base"), keepVersions = 5)
    assert(Versioned.current(root, conf).map(_.getName) === Some("wb"))
    assert(Versioned.history(root, conf) === Seq("base", "wb"))
    // the reclaimed marker now fences the slot for its new owner
    intercept[Versioned.CommitConflictException] {
      Versioned.commitExclusive(root, mkVersion(root, "wc"), conf,
        Some("base"), keepVersions = 5)
    }
  }

  test("reclaim race: a committed-then-vacuumed owner is NOT judged dead") {
    // The round-10 ADVICE scenario: checker C passes fence 1, stalls; the
    // marker owner O commits; a later commit's vacuum (keepVersions=1) GCs
    // O's now-superseded dir. C resumes and finds the marker taken by O —
    // with O absent from C's STALE history snapshot and O's dir gone, the
    // old code judged O provably dead, reclaimed the slot, and commit()
    // OVERWRITE-renamed _current over committed versions. The verdict-time
    // re-read must see O committed and conflict instead. Driven
    // deterministically through the onAfterFence test seam.
    val root = freshRoot()
    Versioned.commit(root, mkVersion(root, "base"), conf, keepVersions = 5)
    val c = mkVersion(root, "wc")
    Versioned.onAfterFenceSeam.set(() => {
      // O claims the successor marker, commits, and a follow-up commit's
      // vacuum at keepVersions=1 GCs O's dir — all while C is stalled.
      // The seam is ThreadLocal, so O's nested commitExclusive on THIS
      // thread would re-fire it — remove before committing as O.
      Versioned.onAfterFenceSeam.remove()
      Versioned.commitExclusive(root, mkVersion(root, "wo"), conf,
        Some("base"), keepVersions = 5)
      Versioned.commit(root, mkVersion(root, "w2"), conf, keepVersions = 1)
      assert(!root.getFileSystem(conf).exists(new Path(root, "wo")))
    })
    try {
      intercept[Versioned.CommitConflictException] {
        Versioned.commitExclusive(root, c, conf, Some("base"), keepVersions = 5)
      }
    } finally Versioned.onAfterFenceSeam.remove()
    // nothing lost: the stalled checker changed neither pointer nor log
    assert(Versioned.current(root, conf).map(_.getName) === Some("w2"))
    assert(Versioned.history(root, conf) === Seq("base", "wo", "w2"))
  }

  test("reclaim race: second reclaimer conflicts at the final fence, no lost update") {
    // Two reclaimers of the same dead marker whose write+read-back pairs do
    // NOT interleave both pass the read-back; whichever commits second must
    // see the first's commit at the final pre-commit fence and throw —
    // driven by having R1's full commit land inside R2's onBeforeCommit
    // window (after R2 won the marker read-back).
    val root = freshRoot()
    Versioned.commit(root, mkVersion(root, "base"), conf, keepVersions = 5)
    val f = root.getFileSystem(conf)
    val out = f.create(new Path(root, "_commit_00001"), false)
    try out.write("dead_w".getBytes("UTF-8")) finally out.close()
    val r2 = mkVersion(root, "r2")
    Versioned.onBeforeCommitSeam.set(() => {
      Versioned.onBeforeCommitSeam.remove()
      // R1 judged the same dead owner and passed its own write+read-back
      // BEFORE R2's overwrite (the non-interleaved pair from the ADVICE
      // finding) — so nothing stops R1's commit, which lands here, inside
      // R2's post-read-back window. Modeled as the commit itself; R2 must
      // now conflict at the final fence instead of overwriting r1.
      Versioned.commit(root, mkVersion(root, "r1"), conf, keepVersions = 5)
    })
    try {
      intercept[Versioned.CommitConflictException] {
        Versioned.commitExclusive(root, r2, conf, Some("base"), keepVersions = 5)
      }
    } finally Versioned.onBeforeCommitSeam.remove()
    assert(Versioned.current(root, conf).map(_.getName) === Some("r1"))
    assert(Versioned.history(root, conf) === Seq("base", "r1"))
  }

  test("restore recommits old content as a new head and keeps all versions by default") {
    val root = freshRoot()
    for (n <- Seq("v0", "v1", "v2"))
      Versioned.commit(root, mkVersion(root, n), conf, keepVersions = 5)
    val restored = Versioned.restore(root, 0, conf, (from, to) => {
      val f = from.getFileSystem(conf)
      org.apache.hadoop.fs.FileUtil.copy(f, from, f, to, false, conf)
      ()
    })
    assert(restored.getName === "restore_0_of_v2")
    assert(Versioned.current(root, conf).map(_.getName) === Some(restored.getName))
    // history stays linear and append-only; restore is its own commit
    assert(Versioned.history(root, conf) ===
      Seq("v0", "v1", "v2", restored.getName))
    // Delta RESTORE never deletes files: the default retention must keep
    // the source version AND the intermediates time-travel readable
    val f = root.getFileSystem(conf)
    for (n <- Seq("v0", "v1", "v2"))
      assert(f.exists(new Path(root, n)), s"$n must survive the restore")
    // the restored head carries version-0 content
    val in = f.open(new Path(restored, "part-0"))
    val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(content === "v0")
  }

  test("restore of the current head is an idempotent no-op, not a duplicate entry") {
    val root = freshRoot()
    for (n <- Seq("v0", "v1"))
      Versioned.commit(root, mkVersion(root, n), conf, keepVersions = 5)
    // n = head: nothing to do — no restage, no new history entry, pointer
    // unchanged; the returned dir is the head itself
    val restored = Versioned.restore(root, 1, conf,
      (_, _) => fail("restage must not run for a restore of the head"))
    assert(restored.getName === "v1")
    assert(Versioned.current(root, conf).map(_.getName) === Some("v1"))
    assert(Versioned.history(root, conf) === Seq("v0", "v1"))
  }

  test("test seams are thread-local: a seam installed here never fires in another thread") {
    // the ADVICE finding: a global mutable seam on the production singleton
    // let one test's closure fire inside a concurrent suite's (or writer's)
    // commitExclusive. With ThreadLocal seams, a commit on a different
    // thread must see the no-op initial value.
    val root = freshRoot()
    Versioned.commit(root, mkVersion(root, "base"), conf, keepVersions = 5)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    Versioned.onAfterFenceSeam.set(() => fired.set(true))
    try {
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t = new Thread(() =>
        try Versioned.commitExclusive(root, mkVersion(root, "w1"), conf,
          Some("base"), keepVersions = 5)
        catch { case e: Throwable => err.set(e) })
      t.start(); t.join()
      assert(err.get() === null, s"commit on the other thread failed: ${err.get()}")
      assert(!fired.get(), "seam leaked into another thread's commit")
      assert(Versioned.current(root, conf).map(_.getName) === Some("w1"))
    } finally Versioned.onAfterFenceSeam.remove()
  }

  test("restore of a vacuumed version fails fast") {
    val root = freshRoot()
    for (n <- Seq("v0", "v1"))
      Versioned.commit(root, mkVersion(root, n), conf, keepVersions = 1)
    // keepVersions=1 GC'd v0; it stays in the audit log but is not restorable
    assert(Versioned.history(root, conf) === Seq("v0", "v1"))
    val e = intercept[IllegalArgumentException] {
      Versioned.restore(root, 0, conf, (_, _) => fail("restage must not run"))
    }
    assert(e.getMessage.contains("not restorable"))
  }

  test("restore conflicts with a concurrent commit instead of clobbering it") {
    val root = freshRoot()
    for (n <- Seq("v0", "v1"))
      Versioned.commit(root, mkVersion(root, n), conf, keepVersions = 5)
    intercept[Versioned.CommitConflictException] {
      Versioned.restore(root, 0, conf, (from, to) => {
        val f = from.getFileSystem(conf)
        org.apache.hadoop.fs.FileUtil.copy(f, from, f, to, false, conf)
        // a sibling writer commits while the restore is re-staging — the
        // restore's commitExclusive is fenced on the head it observed (v1)
        // and must throw, not overwrite the sibling
        Versioned.commit(root, mkVersion(root, "sibling"), conf,
          keepVersions = 5)
      })
    }
    assert(Versioned.current(root, conf).map(_.getName) === Some("sibling"))
    assert(Versioned.history(root, conf) === Seq("v0", "v1", "sibling"))
  }

  test("commitExclusive: stale parent fast-fails before touching the claim") {
    val root = freshRoot()
    Versioned.commit(root, mkVersion(root, "p1"), conf, keepVersions = 5)
    Versioned.commit(root, mkVersion(root, "p2"), conf, keepVersions = 5)
    intercept[Versioned.CommitConflictException] {
      Versioned.commitExclusive(root, mkVersion(root, "w"), conf,
        Some("p1"), keepVersions = 5)
    }
    assert(Versioned.current(root, conf).map(_.getName) === Some("p2"))
  }
}
