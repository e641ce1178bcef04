package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The BPE tokenizer artifact: train → save → load roundtrip, the
  * train-once handoff to apply, and the degenerate-corpus early stop
  * (a merge budget larger than the pair vocabulary must end the loop,
  * not crash it).
  */
class BpeArtifactSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.sources.GraftSession.local()

  test("artifact roundtrip: saved merge list loads bit-identical, in rank order") {
    import spark.implicits._
    val docs = (0L until 60L).map { i =>
      (i, "the quick brown fox jumps over the lazy dog " +
        s"stream window batch vector doc$i")
    }.toDF("doc_id", "text")
    val rounds = graft.queries.TextQueries.bpeTrainRounds(spark, docs)
    assert(rounds.length == graft.queries.TextQueries.BpeMerges)
    assert(rounds.map(_._1) == (1L to rounds.length.toLong))
    // the trajectory is monotone: every merge shrinks total pieces
    rounds.sliding(2).foreach {
      case Seq(a, b) => assert(b._5 < a._5, s"pieces did not shrink: $a -> $b")
      case _ => ()
    }
    val dir = graft.sources.TempDirs.scratch("graft_bpespec_")
    graft.sources.BpeStore.save(spark, dir, rounds)
    assert(graft.sources.BpeStore.exists(spark, dir))
    assert(graft.sources.BpeStore.load(spark, dir) == rounds)
    // overwrite with a shorter list: the artifact is replaced, not merged
    graft.sources.BpeStore.save(spark, dir, rounds.take(2))
    assert(graft.sources.BpeStore.load(spark, dir) == rounds.take(2))
  }

  test("train-once handoff: ensureArtifact is stable per corpus dir and apply's load equals the trained sequence") {
    val dir = "/root/testdata/sf0.001"
    val a1 = graft.queries.TextQueries.bpeEnsureArtifact(spark, dir)
    val a2 = graft.queries.TextQueries.bpeEnsureArtifact(spark, dir)
    assert(a1 == a2, "per-JVM stable dir must not fork")
    val loaded = graft.sources.BpeStore.load(spark, a1)
    val fresh = graft.queries.TextQueries.bpeTrainRounds(spark,
      graft.sources.Tables.documents(spark, dir))
    assert(loaded == fresh,
      "artifact diverged from a fresh training run on the same corpus")
  }

  test("stable-dir key folds in content: the fingerprint sidecar (preferred) and footer row counts both move it") {
    import spark.implicits._
    def stage(rows: Seq[(Long, String)]): String = {
      val d = graft.sources.TempDirs.scratch("graft_bpekey_")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      d
    }
    val dir = stage(Seq(1L -> "aa bb aa", 2L -> "bb cc"))
    val base = graft.queries.TextQueries.bpeStableDir(spark, dir)
    assert(base == graft.queries.TextQueries.bpeStableDir(spark, dir),
      "key not stable under unchanged corpus")
    // a _graft_fingerprint sidecar OVERRIDES the footer tier: staging
    // tooling owns the content signature, and changing it re-keys the
    // artifact even with part metadata untouched (the rsync -a /
    // cp -p aliasing path the metadata signature alone cannot see)
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet/_graft_fingerprint")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeSidecar(s: String): Unit = {
      val o = f.create(p, true)
      try o.write(s.getBytes("UTF-8")) finally o.close()
    }
    writeSidecar("gen-1")
    val k1 = graft.queries.TextQueries.bpeStableDir(spark, dir)
    assert(k1 != base, "sidecar arrival must re-key")
    writeSidecar("gen-2")
    val k2 = graft.queries.TextQueries.bpeStableDir(spark, dir)
    assert(k2 != k1, "sidecar content change must re-key")
    // without a sidecar the footer ROW-COUNT tier is active and the key
    // stays stable across repeated resolutions (footers re-read each
    // call — the whole point is that the reading is scan-free, so it
    // can afford to never cache)
    f.delete(p, false)
    val k3 = graft.queries.TextQueries.bpeStableDir(spark, dir)
    assert(k3 == graft.queries.TextQueries.bpeStableDir(spark, dir))
    assert(k3 == base, "same metadata + same row counts must re-derive the same key")
  }

  test("concurrent ensure: N threads racing a cold artifact produce ONE complete, loadable tokenizer") {
    import spark.implicits._
    // the Verify dump runs queries from a thread pool, and every
    // token-family query funnels through bpeEnsureArtifact — this is
    // the race the ensure lock exists for, driven with real threads
    val d = graft.sources.TempDirs.scratch("graft_bperace_")
    (0L until 80L).map(i => (i, s"alpha beta gamma delta tok$i epsilon"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val dirs = (0 until 8).map { _ =>
      pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = graft.queries.TextQueries.bpeEnsureArtifact(spark, d)
      })
    }.map(_.get())
    pool.shutdown()
    assert(dirs.toSet.size == 1, s"ensure forked stable dirs: ${dirs.toSet}")
    // the artifact is complete and loadable: merges AND alphabet, and
    // a fresh single-threaded training agrees bit-for-bit
    val adir = dirs.head
    val merges = graft.sources.BpeStore.load(spark, adir)
    assert(graft.sources.BpeStore.loadAlphabet(spark, adir).isDefined,
      "exists() implied a complete artifact but the alphabet is missing")
    val fresh = graft.queries.TextQueries.bpeTrainRounds(spark,
      graft.sources.Tables.documents(spark, d))
    assert(merges == fresh, "raced artifact diverged from a clean training run")
  }

  test("degenerate corpus: merge budget outruns the pair vocabulary -> early stop, no crash") {
    import spark.implicits._
    // single repeated 2-char word: exactly ONE learnable merge (a,b);
    // afterwards every word is one symbol and no pair exists
    val tiny = Seq((1L, "ab ab ab"), (2L, "ab")).toDF("doc_id", "text")
    val rounds = graft.queries.TextQueries.bpeTrainRounds(spark, tiny)
    assert(rounds.length == 1, s"expected 1 learned round, got $rounds")
    assert((rounds.head._2, rounds.head._3) == ("a", "b"))
    assert(rounds.head._6 == 1L) // one piece type remains: "ab"
    // an all-single-char vocab has NO pair at all: zero rounds
    val none = Seq((1L, "a b c a")).toDF("doc_id", "text")
    assert(graft.queries.TextQueries.bpeTrainRounds(spark, none).isEmpty)
  }

  test("mat() pins CTEs and guards its own blind spots (named WINDOW, literal ' AS (')") {
    val M = graft.queries.TextQueries
    // the rewrite itself, and its idempotence on already-pinned CTEs
    assert(M.mat("WITH a AS (SELECT 1), b AS (SELECT 2) SELECT * FROM b")
      == "WITH a AS MATERIALIZED (SELECT 1), b AS MATERIALIZED (SELECT 2) " +
         "SELECT * FROM b")
    val pinned = "WITH a AS MATERIALIZED (SELECT 1) SELECT * FROM a"
    assert(M.mat(pinned) == pinned)
    // a named WINDOW clause is the other `name AS (` form in SQL — the
    // blind rewrite would corrupt it into invalid SQL; must throw
    intercept[IllegalArgumentException] {
      M.mat("SELECT rank() OVER w FROM t WINDOW w AS (ORDER BY x)")
    }
    // a string literal containing ' AS (' would be edited in place
    intercept[IllegalArgumentException] {
      M.mat("WITH a AS (SELECT 'x AS (y' AS s) SELECT * FROM a")
    }
    // ...but quoted text NOT containing the pattern must pass, even
    // when a legitimate `name AS (` sits BETWEEN two literals (a
    // regex spanning quote boundaries — the guard's first draft —
    // would false-positive here and reject every multi-literal oracle)
    assert(M.mat("WITH a AS (SELECT concat('p:', x) AS s FROM t), " +
        "b AS (SELECT 'q' AS u) SELECT * FROM a, b")
      .contains("b AS MATERIALIZED ("))
    // an identifier merely ENDING in "window" must not trip the named-
    // WINDOW guard (the r17 substring check would throw here)
    assert(M.mat("WITH a AS (SELECT t_window AS w FROM t) SELECT * FROM a")
      .contains("a AS MATERIALIZED ("))
  }

  test("retrain lifecycle: calm batch skips, drift fires, staged swap converges and recovers") {
    import org.apache.spark.sql.functions.col
    import graft.queries.TextQueries
    import graft.sources.BpeStore
    val dir = "/root/testdata/sf0.001"
    val base = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text").localCheckpoint(true)
    val aDir = graft.sources.TempDirs.scratch("graft_bpert_spec_") + "/tok"
    TextQueries.bpeTrainArtifact(spark, base, aDir, version = 1L)
    val meta1 = BpeStore.loadMeta(spark, aDir).get
    assert(meta1.version == 1L && meta1.trainNWords > 0L)
    val v1 = BpeStore.load(spark, aDir)
    val merges = v1.map(r => (r._2, r._3))
    // POLICY CADENCE, calm arm: a base-distribution batch loses ~none
    // of the merges' benefit — below the dial, the policy skips and
    // the artifact is untouched
    val calmDial = TextQueries.bpeDriftDial(merges,
      base.filter(col("doc_id") % 5 === 1), meta1.trainPermille)
    assert(calmDial < TextQueries.BpeDriftPermille, s"calm dial $calmDial")
    assert(BpeStore.load(spark, aDir) == v1 &&
      BpeStore.loadMeta(spark, aDir).get == meta1, "calm arm mutated the artifact")
    // drift arm: the reversed-token wave destroys most of the merges'
    // benefit and fires the scale-free dial
    val wave = TextQueries.bpeDriftWave(base).localCheckpoint(true)
    val driftDial = TextQueries.bpeDriftDial(merges, wave, meta1.trainPermille)
    assert(driftDial >= TextQueries.BpeDriftPermille, s"drift dial $driftDial")
    // response: staged retrain on the union, version bump, convergence
    val union = base.unionByName(wave)
    TextQueries.bpeTrainArtifact(spark, union, aDir, version = 2L)
    assert(BpeStore.loadMeta(spark, aDir).get.version == 2L)
    assert(BpeStore.load(spark, aDir) ==
      TextQueries.bpeTrainRounds(spark, union),
      "swapped artifact diverged from a fresh train on the final corpus")
    def txnLeft(dir: String): Boolean = {
      val txn = graft.sources.Publish.txnDir(dir)
      txn.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(txn)
    }
    assert(!txnLeft(aDir), "swap left staging debris")
    // crash recovery. Crashed at its commit marker: the new artifact is
    // staged whole, the marker never written — a read keeps the live
    // artifact and leaves the staging to the next retrain
    CrashFs.register(spark)
    val snapshot = BpeStore.load(spark, aDir)
    val other = Seq[BpeStore.Round]((1L, "x", "y", 3L, 9L, 2L))
    def retrainOther(dir: String): Unit = BpeStore.retrainSwap(spark, dir,
      other, Seq("x", "y"), BpeStore.Meta(9L, 3L, 9L))
    CrashFs.crashWhere(CrashFs.renameOnto(
      s"${graft.sources.Publish.txnDir(aDir)}/${graft.sources.Publish.Marker}"))(
      retrainOther(s"crash://$aDir"))
    assert(BpeStore.load(spark, aDir) == snapshot, "a read before the marker changed the artifact")
    assert(txnLeft(aDir), "a read dropped an uncommitted retrain")
    // committed, crashed between the move's two renames (live dir
    // retired, staged artifact not yet in place; the retrain first
    // dropped the crashed staging above): the next read finishes the move
    CrashFs.crashWhere(CrashFs.renameOnto(aDir))(retrainOther(s"crash://$aDir"))
    assert(BpeStore.exists(spark, aDir) &&
      BpeStore.load(spark, aDir) == other, "roll-forward lost the staged artifact")
    assert(!txnLeft(aDir), "roll-forward left the transaction")
    // GDPR arm: retrain-from-survivors converges to a fresh train that
    // never saw the retracted docs
    val survivors = union.filter(col("doc_id") % 50 =!= 7)
    TextQueries.bpeTrainArtifact(spark, survivors, aDir, version = 3L)
    assert(BpeStore.load(spark, aDir) ==
      TextQueries.bpeTrainRounds(spark, survivors),
      "survivor retrain diverged from the fresh survivor train")
  }
}
