package graft

import java.io.File
import java.nio.file.{Files, Paths}

/** The one build-once mechanism: a hit builds nothing, an input or
  * code change moves the root, a crashed or failed build never
  * publishes, and a crash between the swap's renames heals. */
class DerivedCacheSpec extends SparkSpec {

  private def tmp = new File(System.getProperty("java.io.tmpdir"))

  /** Every entry of `kind` under the temp directory, by name. */
  private def entriesOf(kind: String): Set[String] =
    tmp.listFiles().map(_.getName).filter(_.startsWith(s"graft_derived_${kind}_")).toSet

  /** A fresh input dir holding one one-file table. */
  private def inputDir(): String = {
    val dir = Files.createTempDirectory("derived-in").toString
    Files.createDirectories(Paths.get(dir, "t.parquet"))
    Files.writeString(Paths.get(dir, "t.parquet", "part-0"), "a")
    dir
  }

  /** `ensure` whose build writes `ok` and counts its calls. */
  private def ensureCounting(kind: String, dir: String, calls: Array[Int]): String =
    DerivedCache.ensure(spark, kind, dir, Seq("t.parquet")) { out =>
      calls(0) += 1
      Files.writeString(Paths.get(out, "ok"), "x")
    }

  test("a hit returns the same root and does not call build") {
    val dir = inputDir()
    val calls = Array(0)
    val r1 = ensureCounting("dchit", dir, calls)
    val r2 = ensureCounting("dchit", dir, calls)
    assert(calls(0) == 1)
    assert(r1 == r2 && new File(r1, "ok").exists)
    assert(entriesOf("dchit") == Set(new File(r1).getName))
  }

  test("rewriting an input file rebuilds, and the sweep removes the old root") {
    val dir = inputDir()
    val calls = Array(0)
    val r1 = ensureCounting("dcinput", dir, calls)
    val part = new File(dir, "t.parquet/part-0")
    Files.writeString(part.toPath, "bb")
    assert(part.setLastModified(part.lastModified + 5000))
    val r2 = ensureCounting("dcinput", dir, calls)
    assert(calls(0) == 2 && r1 != r2)
    assert(!new File(r1).exists && new File(r2, "ok").exists)
    assert(entriesOf("dcinput") == Set(new File(r2).getName))
  }

  test("the code signature is part of the key") {
    val listing = Seq("/t.parquet/part-0:1:1000")
    val a = DerivedCache.rootName("ivf", "/data", listing, "code-a")
    val b = DerivedCache.rootName("ivf", "/data", listing, "code-b")
    assert(a == DerivedCache.rootName("ivf", "/data", listing, "code-a"))
    assert(a != b)
    assert(a != DerivedCache.rootName("ivf", "/data", Seq("/t.parquet/part-0:2:1000"), "code-a"))
    assert(a != DerivedCache.rootName("pq", "/data", listing, "code-a"))
    // one sweep prefix per kind and dir, so a code change reclaims the old root
    def prefix(name: String) = name.take(name.lastIndexOf('_'))
    assert(a.startsWith("graft_derived_ivf_") && prefix(a) == prefix(b))
    assert(DerivedCache.codeSignature.matches("[0-9a-f]{16}"))
  }

  test("a build that throws publishes nothing; its staged leftover is discarded by the next build") {
    val dir = inputDir()
    val calls = Array(0)
    val e = intercept[IllegalStateException] {
      DerivedCache.ensure(spark, "dccrash", dir, Seq("t.parquet")) { out =>
        Files.writeString(Paths.get(out, "partial"), "x")
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    // only the staged copy is left, as after a crash mid-build
    val left = entriesOf("dccrash")
    assert(left.size == 1 && left.head.endsWith("__staged"), left)
    val root = ensureCounting("dccrash", dir, calls)
    assert(calls(0) == 1)
    assert(new File(root, "ok").exists && !new File(root, "partial").exists)
    assert(entriesOf("dccrash") == Set(new File(root).getName))
  }

  test("a crash between the swap's renames heals on the next call, without a rebuild") {
    val dir = inputDir()
    val calls = Array(0)
    val root = ensureCounting("dcheal", dir, calls)
    assert(new File(root).renameTo(new File(root + "__old")))
    assert(ensureCounting("dcheal", dir, calls) == root)
    assert(calls(0) == 1 && new File(root, "ok").exists)
    assert(entriesOf("dcheal") == Set(new File(root).getName))
  }
}
