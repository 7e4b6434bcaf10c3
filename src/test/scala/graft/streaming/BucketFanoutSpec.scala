package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkTestBase

/** Manifest-robustness pins for [[BucketFanout]] (ADVICE r17): a
  * damaged `_fanout` must degrade to the proven-compatible
  * occupied-dir detection instead of wedging every store entry point,
  * the manifest replacement must never expose a truncated file, the
  * steady-state reconcile must not rewrite an already-current
  * manifest, and a zero threshold must not schedule 1024 buckets for
  * an empty store. */
class BucketFanoutSpec extends SparkTestBase {

  /** A store index dir with occupied `bucket=` dirs {0, 3} (detection
    * value: nextPow2(4) = 4, floored to [[BucketFanout.Base]]). */
  private def mkIndex(): String = {
    val root = Files.createTempDirectory("fanout-spec-").toString
    for (b <- Seq(0, 3)) {
      val d = Paths.get(root, s"bucket=$b")
      Files.createDirectories(d)
      Files.write(d.resolve("part-0.parquet"), Array.fill(128)('x'.toByte))
    }
    root
  }

  test("empty or garbage _fanout falls back to dir detection (no throw)") {
    val root = mkIndex()
    BucketFanout.writeManifest(spark, root, 256)
    assert(BucketFanout.storeFanout(spark, root) === 256)
    // truncated manifest (the crash / concurrent-reader window the
    // pre-round-18 in-place create could expose)
    Files.write(Paths.get(root, "_fanout"), Array.emptyByteArray)
    assert(BucketFanout.storeFanout(spark, root) === BucketFanout.Base,
      "empty manifest must fall back to occupied-dir detection")
    Files.write(Paths.get(root, "_fanout"), "not-a-number".getBytes("UTF-8"))
    assert(BucketFanout.storeFanout(spark, root) === BucketFanout.Base,
      "unparseable manifest must fall back to occupied-dir detection")
    // a non-positive stamped value is also damage, not a fan-out
    Files.write(Paths.get(root, "_fanout"), "-8".getBytes("UTF-8"))
    assert(BucketFanout.storeFanout(spark, root) === BucketFanout.Base)
  }

  test("writeManifest leaves no temp file and round-trips") {
    val root = mkIndex()
    BucketFanout.writeManifest(spark, root, 1024)
    assert(!Files.exists(Paths.get(root, "_fanout.tmp")),
      "temp manifest must be renamed away")
    assert(BucketFanout.storeFanout(spark, root) === 1024)
    BucketFanout.writeManifest(spark, root, 256) // idempotent overwrite
    assert(BucketFanout.storeFanout(spark, root) === 256)
  }

  test("reconcile skips the manifest rewrite when the stamp is current") {
    val storeDir = Files.createTempDirectory("fanout-reconcile-").toString
    val sub = "bands"
    val idx = Paths.get(storeDir, sub, "bucket=1")
    Files.createDirectories(idx)
    Files.write(idx.resolve("part-0.parquet"), Array.fill(64)('y'.toByte))
    var rewrites = 0
    def pass(): Int = BucketFanout.reconcile(spark, storeDir, sub) { _ =>
      rewrites += 1; (_, _) => ()
    }
    assert(pass() === BucketFanout.Base) // stamps the pre-manifest store once
    val manifest = Paths.get(storeDir, sub, "_fanout")
    assert(Files.exists(manifest))
    val sentinel = 1000000000000L // a distinctly old mtime
    assert(manifest.toFile.setLastModified(sentinel))
    assert(pass() === BucketFanout.Base)
    assert(manifest.toFile.lastModified() === sentinel,
      "steady-state reconcile must not re-enter the manifest replacement window")
    assert(rewrites === 0, "no threshold was crossed; rewrite must not run")
  }

  test("an index stamped 64 by an earlier floor stays at 64 and is not " +
      "rewritten, while a new index starts at Base") {
    val storeDir = Files.createTempDirectory("fanout-old-floor-").toString
    // occupied dirs {0, 3} sit below either floor: only the manifest
    // says this index was bucketed at 64
    for (b <- Seq(0, 3)) {
      val d = Paths.get(storeDir, "bands", s"bucket=$b")
      Files.createDirectories(d)
      Files.write(d.resolve("part-0.parquet"), Array.fill(64)('z'.toByte))
    }
    BucketFanout.writeManifest(spark, s"$storeDir/bands", 64)
    val manifest = Paths.get(storeDir, "bands", "_fanout")
    val sentinel = 1000000000000L
    assert(manifest.toFile.setLastModified(sentinel))
    var rewrites = 0
    def pass(sub: String): Int = BucketFanout.reconcile(spark, storeDir, sub) { _ =>
      rewrites += 1; (_, _) => ()
    }
    assert(BucketFanout.Base < 64, "the floor is not below the old stamp")
    assert(pass("bands") === 64, "a 64-stamped index must keep its fan-out")
    assert(pass("fresh") === BucketFanout.Base, "a new index must start at Base")
    assert(rewrites === 0, "growth is monotonic: a 64-bucket index is never rewritten")
    assert(manifest.toFile.lastModified() === sentinel, "the 64 stamp was replaced")
  }

  test("zero/absent-size stores never schedule above Base (strict thresholds)") {
    try {
      spark.conf.set(BucketFanout.GrowAt256Key, "0")
      spark.conf.set(BucketFanout.GrowAt1024Key, "0")
      assert(BucketFanout.scheduled(spark, 0L) === BucketFanout.Base,
        "a zero threshold must not 1024-bucket an empty store")
      assert(BucketFanout.scheduled(spark, 1L) === 1024,
        "any actual bytes above a (mis)set zero threshold still grow")
    } finally {
      spark.conf.unset(BucketFanout.GrowAt256Key)
      spark.conf.unset(BucketFanout.GrowAt1024Key)
    }
  }
}
