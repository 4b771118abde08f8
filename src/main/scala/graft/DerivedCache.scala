package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import graft.sink.DirSwap

/** The one build-once mechanism for derived data: the stored indexes,
  * the docstore and the profiling corpora that a query or tool builds
  * on first use and reuses afterwards.
  *
  * A root lives under `java.io.tmpdir` (read at call time) as
  * `graft_derived_<kind>_<dirHex>_<key>`, where `key` digests three
  * things: the kind, the input tables' file listing (names, lengths,
  * mtimes) and [[codeSignature]], the digest of every graft class this
  * program runs. A regenerated input or ANY code change lands in a
  * fresh root, so a cache hit can only serve data that this code built
  * from these inputs; callers say nothing about code.
  *
  * A miss deletes every other root of the same kind and dir (older
  * keys, a staged copy a crashed build left), builds into a staged
  * sibling and publishes it with one checked [[DirSwap.commit]]. Each
  * call heals first, so a crash between the swap's renames is rolled
  * back, never rebuilt over. A build that throws publishes nothing and
  * its exception reaches the caller. Builders must not record their
  * own path: the staged root is renamed once complete.
  *
  * Each call is recorded per kind (built or hit, build seconds); [[take]]
  * hands the record to Bench's `BENCH_SELF.json`, as [[Route.take]] does
  * for the route gates. */
object DerivedCache {

  /** One kind's calls since the last take: whether any built, and the
    * seconds its builds took. */
  final case class Record(built: Boolean, buildSeconds: Double)

  private val latest = scala.collection.mutable.Map.empty[String, Record]

  /** The record of every kind called since the last take, and an empty
    * record after it. */
  def take(): Map[String, Record] = synchronized {
    try latest.toMap finally latest.clear()
  }

  /** query → that query's records, as one JSON object, sorted. */
  def json(byQuery: Map[String, Map[String, Record]]): String = byQuery.toSeq.sortBy(_._1)
    .map { case (q, rs) => Verify.jsonStr(q) + ":" + rs.toSeq.sortBy(_._1).map {
      case (k, r) => s""""$k":{"built":${r.built},"build_s":${r.buildSeconds}}"""
    }.mkString("{", ",", "}") }.mkString("{", ",", "}")

  /** Every file under `f` (itself when it is one), sorted by path. */
  private def filesUnder(f: File): Seq[File] =
    Option(f.listFiles()).map(_.toSeq.sortBy(_.getName).flatMap(filesUnder))
      .getOrElse(Seq(f))

  private def md5Hex(parts: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach { p => md.update(p); md.update(0.toByte) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Digest of every class file under `graft/` at the code source that holds
    * this object: a classes directory (sbt, syncbench) or a jar. Once
    * per JVM. */
  private[graft] lazy val codeSignature: String = {
    val src = new File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val classes: Seq[(String, Array[Byte])] =
      if (src.isDirectory) filesUnder(new File(src, "graft")).filter(_.getName.endsWith(".class"))
        .map(f => src.toPath.relativize(f.toPath).toString -> java.nio.file.Files.readAllBytes(f.toPath))
      else {
        import scala.jdk.CollectionConverters._
        val jar = new java.util.jar.JarFile(src)
        try jar.entries.asScala.toSeq
          .filter(e => e.getName.startsWith("graft/") && e.getName.endsWith(".class"))
          .map(e => e.getName -> jar.getInputStream(e).readAllBytes())
        finally jar.close()
      }
    md5Hex(classes.sortBy(_._1).iterator.flatMap { case (n, b) => Iterator(n.getBytes(UTF_8), b) })
  }

  private def dirHex(dir: String): String = Integer.toHexString(dir.hashCode)

  /** The root name of `kind` over `dir`, for an input listing and a
    * code signature. */
  private[graft] def rootName(kind: String, dir: String, listing: Seq[String],
      code: String): String =
    s"graft_derived_${kind}_${dirHex(dir)}_" +
      md5Hex((Seq(kind, code) ++ listing).iterator.map(_.getBytes(UTF_8)))

  /** The root of `kind` derived from the `inputs` tables of `dir`,
    * built by `build` (given the path to write) when absent. */
  def ensure(spark: SparkSession, kind: String, dir: String, inputs: Seq[String])(
      build: String => Unit): String = synchronized {
    require(kind.nonEmpty && kind.forall(_.isLetterOrDigit), s"kind '$kind' must be alphanumeric")
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    // one line per input file: relative path, length, mtime
    val listing = inputs.flatMap(t => filesUnder(new File(dir, t)))
      .map(f => s"${f.getPath.stripPrefix(dir)}:${f.length}:${f.lastModified}")
    val name = rootName(kind, dir, listing, codeSignature)
    val live = new Path(new File(tmp, name).getAbsolutePath)
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    DirSwap.heal(fs, live, DirSwap.old(live))
    val rec =
      if (fs.exists(live)) Record(built = false, 0.0)
      else {
        val t0 = System.nanoTime()
        Option(tmp.listFiles()).getOrElse(Array.empty[File])
          .filter(f => f.getName.startsWith(s"graft_derived_${kind}_${dirHex(dir)}_") &&
            f.getName != name)
          .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
        val staged = new Path(live.toString + "__staged")
        fs.mkdirs(staged)
        build(staged.toString)
        DirSwap.commit(fs, staged, live, DirSwap.old(live))
        Record(built = true, (System.nanoTime() - t0) / 1e9)
      }
    latest(kind) = latest.get(kind).fold(rec)(r =>
      Record(r.built || rec.built, r.buildSeconds + rec.buildSeconds))
    live.toString
  }
}
