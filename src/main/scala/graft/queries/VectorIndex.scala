package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{DerivedCache, Route}
import graft.sources.Tables

/** PERSISTED PQ index — the production ANN serving shape. The
  * in-query `annPqTopk` trains + encodes per call (right for a
  * one-shot batch query); a serving system trains ONCE, stores the
  * codebook and the m-byte codes, and answers every later query
  * against the stored index:
  *
  *  - `buildPq` — one bounded sample collect, driver-side Lloyd
  *    (VectorQueries.pqTrain), one narrow full-corpus encode scan;
  *    persists `codes/` (vec_id, codes — the 64×-compressed scan
  *    side) and `book/` ((mm, kk, cent) rows — the quantizer,
  *    m×k×sub doubles at any corpus size) as parquet.
  *  - `searchPq` — reads the quantizer (one tiny collect), computes
  *    each query's LUT driver-side, scores the stored codes with the
  *    same broadcast-LUT ADC expression, exact-re-ranks the
  *    shortlist against the corpus embeddings. NO training, NO
  *    full-corpus encode: the per-query cost is one compressed scan.
  *
  * Same building blocks as annPqTopk, so stored-index search is
  * spec-pinned to return EXACTLY annPqTopk's results for the same
  * parameters (VectorIndexSpec). */
object VectorIndex {

  /** Train on a deterministic bounded sample and persist the index.
    * Parameter meanings match annPqTopk. */
  def buildPq(spark: SparkSession, dir: String, indexPath: String,
      m: Int = 8, k: Int = 32, lloydRounds: Int = 4,
      trainMod: Int = 1, maxTrain: Int = 4096): Unit = {
    val sub = VectorQueries.Dim / m
    val emb = VectorQueries.embNormed(spark, dir).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sample: Array[Array[Double]] = emb
      .filter(pmod(col("vec_id"), lit(trainMod)) === 0)
      .orderBy(col("vec_id")).limit(maxTrain)
      .select(col("emb")).collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= k,
      s"PQ training sample ${sample.length} < k=$k — lower trainMod")
    val book = VectorQueries.pqTrain(sample, m, k, sub, lloydRounds)

    import spark.implicits._
    book.zipWithIndex.flatMap { case (cents, mm) =>
      cents.zipWithIndex.map { case (c, kk) => (mm, kk, c) }
    }.toDF("mm", "kk", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/book")
    emb.select(col("vec_id"),
        VectorQueries.pqAssignExpr(book, col("emb"), m, sub).as("codes"))
      .write.mode("overwrite").parquet(s"$indexPath/codes")
    emb.unpersist(false)
  }

  /** Per-path cache of the stored coarse quantizer. The centroid
    * table is IMMUTABLE for an index's lifetime (FAISS's train-once
    * contract — only a full rebuild rewrites it), so every serving
    * call and every streaming ingest micro-batch
    * (StreamOps.ivfIngestBatch) shares one driver-side copy instead
    * of paying a parquet read + collect per call. Entries are keyed
    * by the cents directory's FILE SIGNATURE (names + sizes +
    * mtimes — one cheap metadata listing per call), not just the
    * path: a rebuild performed by ANOTHER process rewrites the
    * files, moves the signature, and invalidates naturally — the
    * cross-process freshness the plain per-call read had, at
    * metadata-listing cost. mtimes alone are not enough on
    * filesystems with coarse (1 s) granularity — a rebuild that
    * rewrites identically-named, identically-sized files inside one
    * granularity window would leave the signature unchanged — so
    * every build also stamps a uniquely-NAMED `_build_<uuid>` token
    * file into the directory (underscore prefix: invisible to the
    * parquet reader, visible to the listing), making the signature
    * move on every rebuild unconditionally. Same-JVM rebuilds
    * additionally invalidate eagerly (the builders below). Bounded:
    * k×dim doubles per distinct index path. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[Seq[Double]])]()

  private def centsSignature(spark: SparkSession, indexPath: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/cents")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).sortBy(_.getPath.getName)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .mkString("|")
  }

  private[graft] def cachedCentroids(spark: SparkSession,
      indexPath: String): Seq[Seq[Double]] = {
    // committed-rebuild roll-forward BEFORE the signature read (the
    // cachedGraphQuantizer discipline): the quantizer must never be
    // the pre-rebuild one while a later heal swaps in post-rebuild
    // tables
    graft.streaming.StreamOps.recoverStagedRebuild(
      new org.apache.hadoop.fs.Path(indexPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration), indexPath)
    val sig = centsSignature(spark, indexPath)
    centroidCache.compute(indexPath, (_, cur) =>
      if (cur != null && cur._1 == sig) cur
      else (sig, spark.read.parquet(s"$indexPath/cents")
        .select(col("kk"), col("cent")).collect()
        .sortBy(_.getInt(0)).map(_.getSeq[Double](1)).toSeq))._2
  }

  private[graft] def invalidateCentroids(indexPath: String): Unit = {
    centroidCache.remove(indexPath)
    quantizerCache.remove(indexPath)
    entriesCache.remove(indexPath)
  }

  /** Per-path cache of the graph index's two-level quantizer —
    * centroidCache's discipline (signature-keyed on cents/, which the
    * build token moves on every rebuild; supers/ is written by the
    * same build, so one signature covers both). */
  private val quantizerCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, GraphQuantizer)]()

  private[graft] def cachedGraphQuantizer(spark: SparkSession,
      indexPath: String): GraphQuantizer = {
    // committed-rebuild roll-forward BEFORE the signature read: the
    // quantizer must never be the pre-rebuild one while the tables a
    // later heal swaps in are post-rebuild
    graft.streaming.StreamOps.recoverStagedRebuild(
      new org.apache.hadoop.fs.Path(indexPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration), indexPath)
    val sig = centsSignature(spark, indexPath)
    quantizerCache.compute(indexPath, (_, cur) =>
      if (cur != null && cur._1 == sig) cur
      else (sig, {
        val sp = new org.apache.hadoop.fs.Path(s"$indexPath/supers")
        val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(sp)) {
          val supers = spark.read.parquet(sp.toString)
            .select(col("sid"), col("cent")).collect()
            .sortBy(_.getInt(0)).map(_.getSeq[Double](1)).toSeq
          val cells = spark.read.parquet(s"$indexPath/cents")
            .select(col("kk"), col("sid"), col("cent")).collect()
            .sortBy(_.getInt(0)).map(r => (r.getInt(1), r.getSeq[Double](2))).toSeq
          GraphQuantizer(supers, cells)
        } else {
          // pre-supers (round-13 flat-quantizer) root: ONE implicit
          // super owning every cell makes the two-level assignment
          // degenerate to the old flat top-2 over all cells — the
          // exact semantics that index was built under. The serve
          // paths never meet such a root (DerivedCache keys each root
          // on the code that built it); the streaming maintainer reads
          // whatever index it is given, so it heals here instead of
          // dying on the read.
          val cells = spark.read.parquet(s"$indexPath/cents")
            .select(col("kk"), col("cent")).collect()
            .sortBy(_.getInt(0)).map(r => (0, r.getSeq[Double](1))).toSeq
          require(cells.nonEmpty, s"graph index $indexPath has an empty cents table")
          GraphQuantizer(Seq(cells.head._2.map(_ => 0.0)), cells)
        }
      }))._2
  }

  /** Per-path cache of the graph index's per-cell entry points —
    * centroidCache's discipline applied to the second model-sized
    * table the walk needs on the driver. Keyed by the CENTS
    * signature: the `_build_<uuid>` token stamped into cents/ moves
    * it unconditionally on every rebuild, and entries/ is written by
    * the same build that stamped the token, so cents-signature
    * freshness covers both. Kills the per-search entries read +
    * collect the round-12 serve paid (cells-proportional driver rows
    * per call). */
  private val entriesCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Map[Int, Long])]()

  /** Budget of the `tombstone_set` gate: the tombstone count under
    * which the tombstone set is cached on the driver (4M
    * longs ≈ 32 MB — the BroadcastClosingEdges envelope class). Under
    * it the walk's per-hop fetches pre-filter their WANTED ids against
    * a sorted driver array instead of paying a tombstone-parquet read
    * + distinct + anti-join PER FETCH (hops+1 times per serve —
    * measured as most of ann_graph_del's serve-time overhead vs the
    * log-free ann_graph_topk). Past the bound, the per-fetch
    * anti-join runs unchanged. */
  private[graft] val TombstoneLocalMax: Int = 4000000

  /** Per index path: (log signature, tombstone count read up to the
    * cap, the sorted ids — empty once the count reached the cap). */
  private val tombstoneSetCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Int, Array[Long])]()

  /** The tombstone log as a SORTED driver array when the
    * `tombstone_set` gate holds. Some(ids) ⇒ exact pre-filtering is
    * safe (a tombstoned id's row never serves — dropping it from the
    * fetch set is the same statement); None ⇒ the log outgrew the
    * budget (or the gate is forced), keep the distributed anti-join.
    * The gate decides before the cache is read, so a forced call
    * never serves a set an earlier `auto` call cached. */
  private[graft] def cachedTombstoneSet(spark: SparkSession,
      indexPath: String): Option[Array[Long]] = {
    var ids = Array.emptyLongArray
    val local = Route.local(spark, "tombstone_set", TombstoneLocalMax.toDouble) {
      val p = new org.apache.hadoop.fs.Path(
        s"$indexPath/${graft.streaming.StreamOps.TombstonesDir}")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0.0
      else {
        // keyed by the log's file listing (names + lengths), so a
        // delete (new file) or a fold (file removal) moves the key, the
        // cachedEntries discipline; the log is read to one id past
        // the budget
        val sig = fs.listStatus(p).map(s => s"${s.getPath.getName}:${s.getLen}")
          .sorted.mkString(",")
        val cap = TombstoneLocalMax + 1
        val (_, n, sorted) = tombstoneSetCache.compute(indexPath, (_, cur) =>
          if (cur != null && cur._1 == sig) cur
          else graft.streaming.StreamOps.loadTombstones(spark, indexPath) match {
            case None => (sig, 0, Array.emptyLongArray)
            case Some(ts) =>
              val got = ts.limit(cap).collect().map(_.getLong(0))
              if (got.length >= cap) (sig, got.length, Array.emptyLongArray)
              else { java.util.Arrays.sort(got); (sig, got.length, got) }
          })
        ids = sorted
        n.toDouble
      }
    }
    if (local) Some(ids) else None
  }

  /** Marker ledger of the graph index's streaming maintainer — also
    * the freshness component of the entries-cache signature: every
    * applied ingest batch adds a marker, so the cache invalidates
    * exactly when the logical index state moves (compaction folds the
    * delta without changing the resolved state, and correctly does
    * NOT invalidate). */
  private[graft] val GraphMarkersDir = "_graft_graph_batches"

  private def graphStateSignature(spark: SparkSession, indexPath: String): String = {
    val mp = new org.apache.hadoop.fs.Path(s"$indexPath/$GraphMarkersDir")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markers = if (!fs.exists(mp)) "" else
      fs.listStatus(mp).map(_.getPath.getName).sorted.mkString(",")
    // the tombstone log is part of the served state: a delete must
    // move the signature (entry points re-resolve against survivors)
    val tp = new org.apache.hadoop.fs.Path(
      s"$indexPath/${graft.streaming.StreamOps.TombstonesDir}")
    val tombs = if (!fs.exists(tp)) "" else
      fs.listStatus(tp).map(s => s"${s.getPath.getName}:${s.getLen}")
        .sorted.mkString(",")
    centsSignature(spark, indexPath) + "|" + markers + "|" + tombs
  }

  /** Heal interrupted compaction swaps on every graph-index table the
    * serve reads — the graph twin of healCells. Rolls a COMMITTED
    * quantizer rebuild forward first (recoverStagedRebuild): a crash
    * inside the rebuild's table-swap sequence must never leave a
    * reader on a half-swapped index (new quantizer, old graph). */
  private def healGraph(spark: SparkSession, indexPath: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.streaming.StreamOps.recoverStagedRebuild(fs, indexPath)
    Seq("graph", "entries", "members").foreach { sub =>
      graft.streaming.StreamOps.recoverCompaction(fs,
        new org.apache.hadoop.fs.Path(s"$indexPath/$sub")) }
  }

  private def loadDelta(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else try Some(spark.read.parquet(path))
    catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** The graph table RESOLVED through the maintainer's delta log:
    * per vec_id, the highest-version row wins (base rows carry
    * version −1, ingest appends carry their batchId; crash-window
    * replays only ever duplicate byte-identical rows, so the
    * tie-break among equal versions is immaterial). Both tables are
    * partitioned by primary cell, so `cellsOf`/`idsOf` prune BOTH
    * reads — the driver walk's per-hop fetches stay walk-sized with a
    * delta present. */
  private[graft] def resolvedGraph(spark: SparkSession, indexPath: String,
      cellsOf: Option[Seq[Int]] = None,
      idsOf: Option[Seq[Long]] = None,
      skipTombstones: Boolean = false): DataFrame = {
    healGraph(spark, indexPath)
    // a graph table absent AFTER a build existed = a delete-everything
    // fold erased it (foldPartitioned deletes rather than swapping in
    // a schema-less dir): serve as empty, like every batch-0 read
    val gp = new org.apache.hadoop.fs.Path(s"$indexPath/graph")
    if (!gp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(gp))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "vec_id BIGINT, cell INT, emb ARRAY<DOUBLE>, " +
            "nbrs ARRAY<STRUCT<nid: BIGINT, cell: INT>>"))
    def prune(df: DataFrame): DataFrame = {
      val a = cellsOf.map(cs => df.filter(col("cell").isin(cs: _*))).getOrElse(df)
      idsOf.map(ids => a.filter(col("vec_id").isin(ids: _*))).getOrElse(a)
    }
    val cols = Seq(col("vec_id"), col("cell"), col("emb"), col("nbrs"))
    val base = prune(spark.read.parquet(s"$indexPath/graph"))
      .select(cols :+ lit(-1L).as("ver"): _*)
    val resolved = loadDelta(spark, s"$indexPath/graph_delta") match {
      case None => base.select(cols: _*)
      case Some(d) =>
        base.unionByName(prune(d).select(cols :+ col("ver"): _*))
          .withColumn("vrk", row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(col("ver").desc)))
          .filter(col("vrk") === 1).select(cols: _*)
    }
    // tombstone resolution (StreamOps.deleteDocs): a deleted node's
    // row never serves — the walk cannot score, return, or expand it
    // (its id dangling in survivors' nbr lists fetches nothing).
    // Physical erase rides compactGraphIndex/rebuildGraphIndex.
    // skipTombstones: the caller already dropped tombstoned ids from
    // an idsOf-pruned fetch set (readGraphRows' cached-set path) —
    // the anti-join would be an identity.
    if (skipTombstones) resolved
    else graft.streaming.StreamOps.minusTombstones(resolved, "vec_id", indexPath)
  }

  private[graft] def cachedEntries(spark: SparkSession,
      indexPath: String): Map[Int, Long] = {
    val sig = graphStateSignature(spark, indexPath)
    entriesCache.compute(indexPath, (_, cur) =>
      if (cur != null && cur._1 == sig) cur
      else (sig, {
        healGraph(spark, indexPath)
        val base = spark.read.parquet(s"$indexPath/entries")
          .select(col("cell"), col("vec_id"), lit(-1L).as("ver"))
        val all = loadDelta(spark, s"$indexPath/entries_delta") match {
          case None => base
          case Some(d) =>
            base.unionByName(d.select(col("cell"), col("vec_id"), col("ver")))
        }
        val resolved = all.withColumn("vrk", row_number().over(
            Window.partitionBy(col("cell")).orderBy(col("ver").desc)))
          .filter(col("vrk") === 1)
          .select(col("cell"), col("vec_id")).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        resolveEntryTombstones(spark, indexPath, resolved)
      }))._2
  }

  /** Tombstone resolution of the entry map: a cell whose stored entry
    * point was deleted re-resolves to the best SURVIVING primary
    * member — the build's own rule (max dot to the cell centroid,
    * ties to the smaller vec_id, exactly `writeGraphTables`' entries
    * window over the survivors) recomputed from the members roster
    * for the affected cells only; a cell with no surviving primary
    * member drops its entry (seeding skips it). Cost: one
    * entries×tombstones semi-join + a members read PRUNED to the
    * affected cells — nothing corpus-sized. Cached upstream by the
    * state signature (which folds in the tombstone listing). */
  private def resolveEntryTombstones(spark: SparkSession, indexPath: String,
      resolved: Map[Int, Long]): Map[Int, Long] =
    graft.streaming.StreamOps.loadTombstones(spark, indexPath) match {
      case None => resolved
      case Some(ts) =>
        import spark.implicits._
        val deadCells = resolved.toSeq.toDF("cell", "vec_id")
          .join(ts.select(col("tid").as("vec_id")), Seq("vec_id"))
          .select(col("cell")).collect().map(_.getInt(0)).toSeq
        if (deadCells.isEmpty) resolved
        else {
          graft.functions.GraftFunctions.ensureRegistered(spark)
          val qz = cachedGraphQuantizer(spark, indexPath)
          val centsDf = deadCells.map(c => (c, qz.cells(c)._2))
            .toDF("cell", "cent")
          val repl = spark.read.parquet(s"$indexPath/members")
            .filter(col("cell").isin(deadCells: _*))
            .filter(col("rk") === 1)
            .join(ts.select(col("tid").as("vec_id")), Seq("vec_id"), "left_anti")
            .join(broadcast(centsDf), Seq("cell"))
            .withColumn("dp",
              call_function("graft_dot", col("emb"), col("cent")))
            .withColumn("erk", row_number().over(
              Window.partitionBy(col("cell"))
                .orderBy(col("dp").desc, col("vec_id"))))
            .filter(col("erk") === 1)
            .select(col("cell"), col("vec_id")).collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap
          (resolved -- deadCells) ++ repl
        }
    }

  /** Drop the cached entry map — compactGraphIndex calls it after
    * folding deltas/tombstones into the entries base (the fold moves
    * no signature component, by design: it writes what the cache
    * already resolved). */
  private[graft] def invalidateEntries(indexPath: String): Unit =
    entriesCache.remove(indexPath)

  /** Monotone rebuild marker for the signature (see centroidCache
    * Scaladoc): a zero-byte file whose NAME is unique per build, so
    * centsSignature moves even when a rebuild reproduces byte- and
    * mtime-identical parquet files. The overwrite-mode cents write
    * clears the previous token, keeping exactly one per index. */
  private def stampBuildToken(spark: SparkSession, indexPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      s"$indexPath/cents/_build_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true).close()
  }

  /** Heal an interrupted cells-table compaction swap before reading —
    * the serving-side half of the heal-first discipline shared with
    * the streaming ingest (StreamOps.recoverCompaction has the full
    * state argument). Without it, a serve issued in the crash window
    * fails on a missing path, and one issued after an un-healed
    * recreate would silently answer from a nearly-empty index. */
  private def healCells(spark: SparkSession, indexPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/cells")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // committed-rebuild roll-forward first (rebuildIvfIndex's
    // contract, same as healGraph's)
    graft.streaming.StreamOps.recoverStagedRebuild(fs, indexPath)
    graft.streaming.StreamOps.recoverCompaction(fs, p)
  }

  /** The stored quantizer, reassembled. */
  private def readBook(spark: SparkSession, indexPath: String): Seq[Seq[Seq[Double]]] = {
    val rows = spark.read.parquet(s"$indexPath/book")
      .select(col("mm"), col("kk"), col("cent")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    val m = rows.map(_._1).max + 1
    val k = rows.map(_._2).max + 1
    val byCell = rows.map(t => (t._1, t._2) -> t._3).toMap
    (0 until m).map(mm => (0 until k).map(kk => byCell((mm, kk))))
  }

  /** Build-once index (DerivedCache, keyed on the corpus files and
    * the code) + search over the FIRST QueryK corpus vectors —
    * the bench/driver query form of the serving paths: warm calls
    * never retrain, so the measured number is what a serving system
    * pays per query batch. Serving semantics: self-matches included
    * (an identical incoming vector reporting sim 1.0 IS the signal).
    * Rows-only driver check; exact ground truth lives in
    * VectorIndexSpec (recall ≥ 0.9, self at rank 1, pruned probes). */
  def annIvfStored(spark: SparkSession, dir: String): DataFrame = {
    val idx = DerivedCache.ensure(spark, "ivf", dir, Corpus)(buildIvf(spark, dir, _))
    // the oracle register lives at the DRIVER-QUERY level (the graph
    // pattern): a register inside searchIvf would let whichever
    // stored-IVF variant ran LAST (e.g. the deletion index) silently
    // re-render this query's oracle from its own quantizer
    lastStoredIvf = Some((cachedCentroids(spark, idx), DefaultNprobe))
    searchIvf(spark, idx, corpusQueries(spark, dir))
  }

  /** PQ twin of annIvfStored. */
  def annPqStored(spark: SparkSession, dir: String): DataFrame = {
    val idx = DerivedCache.ensure(spark, "pq", dir, Corpus)(buildPq(spark, dir, _))
    searchPq(spark, dir, idx, corpusQueries(spark, dir))
  }

  /** Composed IVF-PQ twin — the FAISS-production serving structure
    * as a driver query: probe prunes the scan fraction, codes bound
    * the bytes per row, one exact re-rank on the shortlist. */
  def annIvfPqStored(spark: SparkSession, dir: String): DataFrame = {
    val idx = DerivedCache.ensure(spark, "ivfpq", dir, Corpus)(buildIvfPq(spark, dir, _))
    searchIvfPq(spark, dir, idx, corpusQueries(spark, dir))
  }

  /** The input every stored ANN index derives from. */
  private val Corpus = Seq("embeddings.parquet")

  private def corpusQueries(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))

  /** The serving default probe width — ONE constant shared by
    * searchIvf's signature and the oracle registers, so a render can
    * never assume a different nprobe than the serve used. */
  private[graft] val DefaultNprobe = 6

  /** Deletion predicate of the delete-bearing stored indexes
    * ([[annIvfDel]], [[annGraphDel]]) — `$ID` substitutes the id
    * column in the rendered oracle; the Spark side deletes the same
    * two residue classes, one folded by compaction and one live in
    * the tombstone log, so a single oracle row gates BOTH the
    * physical-erase and the serve-time-filter paths. Class 3 includes
    * query vector 3 — a deleted doc must stop serving even as its own
    * query's best hit. */
  private[graft] val DelPredSql = "($ID % 7 = 3 OR $ID % 7 = 5)"

  /** Driver query: the IVF index with DELETIONS — built once, two
    * residue classes of the corpus deleted (the first physically
    * folded by compactIvfIndex, the second live in the tombstone
    * log), then the standard serving batch. The rendered oracle
    * replays the probes over the corpus minus the deleted classes —
    * hash-equality proves a deleted vector stops serving with NO
    * rebuild, through both the folded and the filtered path. */
  def annIvfDel(spark: SparkSession, dir: String): DataFrame = {
    val idx = DerivedCache.ensure(spark, "ivfdel", dir, Corpus) { root =>
      buildIvf(spark, dir, root)
      val ids = Tables.embeddings(spark, dir).select(col("vec_id"))
      graft.streaming.StreamOps.deleteDocs(root,
        ids.filter(pmod(col("vec_id"), lit(7)) === 3))
      graft.streaming.StreamOps.compactIvfIndex(spark, root)
      graft.streaming.StreamOps.deleteDocs(root,
        ids.filter(pmod(col("vec_id"), lit(7)) === 5))
    }
    lastStoredIvfDel = Some((cachedCentroids(spark, idx), DefaultNprobe))
    searchIvf(spark, idx, corpusQueries(spark, dir))
  }

  /** The graph-ANN twin of [[annIvfDel]]: first class folded by
    * compactGraphIndex (rows erased, entry points re-resolved among
    * survivors), second class live in the log (row-filtered serve,
    * entry resolution via cachedEntries' tombstone branch). */
  def annGraphDel(spark: SparkSession, dir: String): DataFrame = {
    val idx = DerivedCache.ensure(spark, "graphdel", dir, Corpus) { root =>
      buildGraph(spark, dir, root)
      val ids = Tables.embeddings(spark, dir).select(col("vec_id"))
      graft.streaming.StreamOps.deleteDocs(root,
        ids.filter(pmod(col("vec_id"), lit(7)) === 3))
      graft.streaming.StreamOps.compactGraphIndex(spark, root)
      graft.streaming.StreamOps.deleteDocs(root,
        ids.filter(pmod(col("vec_id"), lit(7)) === 5))
    }
    lastStoredGraphDel = Some(cachedGraphQuantizer(spark, idx))
    searchGraph(spark, idx, corpusQueries(spark, dir))
  }

  /** Persist an IVF index: the corpus REORGANIZED by coarse cell —
    * normalized embeddings written `partitionBy("cell")`, plus the
    * k×dim centroid table. Training is the same bounded-sample
    * driver Lloyd as PQ (pqTrain with m=1 — one "subspace" spanning
    * the full vector). The payoff is physical: probing `nprobe`
    * cells at search time is PARTITION PRUNING on the index read —
    * only those cells' files are listed and scanned, the on-disk
    * form of IVF's scan-fraction bound (spec-asserted via the
    * executed scan's numFiles metric). */
  def buildIvf(spark: SparkSession, dir: String, indexPath: String,
      k: Int = 16, lloydRounds: Int = 4, trainMod: Int = 1,
      maxTrain: Int = 4096): Unit = {
    val emb = VectorQueries.embNormed(spark, dir).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    trainAndWriteIvf(spark, emb, indexPath, k, lloydRounds, trainMod, maxTrain)
    emb.unpersist(false)
  }

  /** The quantizer-training + table-writing core of [[buildIvf]],
    * over an already-NORMALIZED (vec_id, emb) frame — split out so
    * the staged rebuild operator (StreamOps.rebuildIvfIndex) can
    * retrain over the maintained cells roster with bit-identical
    * sampling (the trainAndWriteGraph precedent). */
  private[graft] def trainAndWriteIvf(spark: SparkSession, emb: DataFrame,
      indexPath: String, k: Int = 16, lloydRounds: Int = 4,
      trainMod: Int = 1, maxTrain: Int = 4096): Unit = {
    val sample: Array[Array[Double]] = emb
      .filter(pmod(col("vec_id"), lit(trainMod)) === 0)
      .orderBy(col("vec_id")).limit(maxTrain)
      .select(col("emb")).collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= k,
      s"IVF training sample ${sample.length} < k=$k — lower trainMod")
    val cents = VectorQueries.pqTrain(sample, 1, k, VectorQueries.Dim, lloydRounds).head

    import spark.implicits._
    invalidateCentroids(indexPath) // rebuild replaces the quantizer
    cents.zipWithIndex.map { case (c, kk) => (kk, c) }.toDF("kk", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/cents")
    stampBuildToken(spark, indexPath)
    val assign = nearestCellExpr(cents, col("emb"))
    emb.select(col("vec_id"), col("emb"), assign.as("cell"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexPath/cells")
    // build-time quantization stats — the reference point ivfStaleness
    // compares accumulated adds against. Computed from the WRITTEN
    // cells (one extra index scan at build; self-describing — the
    // stats always match what is on disk, not what was about to be).
    writeIvfStats(spark, indexPath)
  }

  /** Recompute and persist the `stats` reference from the CURRENT
    * cells table — shared by the build and by the staged rebuild's
    * post-catch-up refresh (the reference must describe the cells the
    * swap lands, catch-up rows included, or ivfStaleness would read a
    * phantom drift immediately after its own remedy). */
  private[graft] def writeIvfStats(spark: SparkSession, indexPath: String): Unit =
    cellStatsOf(spark.read.parquet(s"$indexPath/cells"),
        cachedCentroids(spark, indexPath))
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/stats")

  /** Quantization summary of a cells-shaped frame: row count, exact
    * decimal sum of the per-row 4dp-rounded max-dot (the assigned
    * centroid IS the argmax, so array_max of the dot row equals the
    * assignment quality), and the hottest cell's population. The 4dp
    * round BEFORE summing makes the sum order-independent (decimal
    * addition is associative, double addition is not) — the same
    * exact-until-one-division discipline as e8. */
  private def cellStatsOf(cells: DataFrame, cents: Seq[Seq[Double]]): DataFrame =
    cells
      .withColumn("qd", round(array_max(array(cents.map(c =>
        call_function("graft_dot", col("emb"), typedlit(c))): _*)), 4)
        .cast("decimal(18,4)"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n"), sum(col("qd")).as("sd"))
      .agg(sum(col("n")).as("n"), sum(col("sd")).cast("decimal(38,4)").as("sumdot"),
        max(col("n")).as("max_cell_n"))

  /** Index-staleness audit — the missing WHEN for the train-once /
    * add-many contract: `ivfIngestBatch` assigns every add against
    * the build-time quantizer, so a drifting input distribution
    * degrades quietly (vectors land in far-away cells; probes stop
    * covering true neighbors) until a batch rebuild retrains.
    * This query makes that degradation measurable from the index
    * alone: it recomputes the current quantization stats over the
    * ACCUMULATED cells table and compares against the build-time
    * stats persisted by `buildIvf` —
    *   mean_dot_*  — mean max-dot (assignment quality; cosine of
    *                 each vector to its cell centroid)
    *   occ_skew_*  — hottest-cell share × k (1.0 = uniform; large =
    *                 adds piling into few cells, the probe-pruning
    *                 killer)
    *   rebuild     — quality dropped below `1 - relTol` of build
    *                 (RELATIVE: mean dot scales with how clustered
    *                 the embedding space is, so an absolute tolerance
    *                 is mis-calibrated at both extremes) OR skew grew
    *                 past `skewFactor`× the build-time skew
    * One narrow index scan + two single-row aggregates — runnable on
    * a schedule at any index size. Exactness: per-row dots are
    * rounded to 4dp then summed as decimals (order-independent), so
    * the DuckDB oracle recomputing both sides from the rendered
    * centroids hash-matches. */
  def ivfStaleness(spark: SparkSession, indexPath: String,
      relTol: Double = StaleRelTol,
      skewFactor: Double = StaleSkewFactor): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    healCells(spark, indexPath)
    val cents = cachedCentroids(spark, indexPath)
    val k = cents.length
    val build = spark.read.parquet(s"$indexPath/stats")
      .select(col("n").as("n_build"), col("sumdot").as("sd_build"),
        col("max_cell_n").as("mx_build"))
    // current stats describe the LIVE corpus — tombstoned rows are
    // already out of serving, so they must not count against quality
    val cur = cellStatsOf(graft.streaming.StreamOps.minusTombstones(
        spark.read.parquet(s"$indexPath/cells"), "vec_id", indexPath), cents)
      .select(col("n").as("n_total"), col("sumdot").as("sd_cur"),
        col("max_cell_n").as("mx_cur"))
    build.crossJoin(broadcast(cur)) // 1×1 summary rows
      .select(
        col("n_build"), col("n_total"),
        round(col("sd_build").cast("double") / col("n_build"), 4).as("mean_dot_build"),
        round(col("sd_cur").cast("double") / col("n_total"), 4).as("mean_dot_cur"),
        round((col("mx_build") * lit(k)).cast("double") / col("n_build"), 4)
          .as("occ_skew_build"),
        round((col("mx_cur") * lit(k)).cast("double") / col("n_total"), 4)
          .as("occ_skew_cur"))
      .withColumn("rebuild",
        col("mean_dot_cur") < lit(1 - relTol) * col("mean_dot_build") ||
          col("occ_skew_cur") > lit(skewFactor) * col("occ_skew_build"))
  }

  /** Staleness thresholds — shared with the oracle renderer so the
    * rendered SQL always tests the same flag the engine computed. */
  private[graft] val StaleRelTol = 0.1
  private[graft] val StaleSkewFactor = 2.0

  /** Drifted adds land in the staleness query's id space far above
    * the corpus ids. */
  private[graft] val DriftOffset = 1000000L

  /** The driver query form of ivfStaleness: a fresh stored index over
    * the corpus, one streaming add batch from a DELIBERATELY shifted
    * distribution (the corpus embeddings reversed component-wise —
    * same norms, none of the cluster structure the quantizer was
    * trained on), then the audit. Idempotent like every ingest
    * rehearsal: the index root is signature-cached and the add is
    * batch-marker-guarded, so re-runs re-measure without re-adding. */
  def annIvfStaleness(spark: SparkSession, dir: String): DataFrame = {
    val idx = DerivedCache.ensure(spark, "ivfdrift", dir, Corpus)(buildIvf(spark, dir, _))
    val drifted = Tables.embeddings(spark, dir)
      .select((col("vec_id") + lit(DriftOffset)).as("vec_id"),
        reverse(col("embedding")).as("emb"))
    // metricsEvery = 0: this query IS the staleness audit — emitting
    // from its own ingest would compute the identical audit twice
    graft.streaming.StreamOps.ivfIngestBatch(idx, metricsEvery = 0)(drifted, 1L).count()
    lastStaleness = Some(cachedCentroids(spark, idx))
    ivfStaleness(spark, idx)
  }

  /** 0-based nearest-centroid cell by max dot (normalized corpus:
    * cosine == dot); ties to the lowest cell. Shared with the
    * streaming maintenance path (StreamOps.ivfIngestBatch) so batch
    * build and incremental add can never assign differently. */
  private[graft] def nearestCellExpr(cents: Seq[Seq[Double]], v: Column): Column = {
    val dots = array(cents.map(c =>
      call_function("graft_dot", v, typedlit(c))): _*)
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  /** Top-`kNN` per external query against the stored IVF index —
    * self-contained: the index carries the embeddings, so search
    * never re-reads the corpus table. Cells ranked driver-side
    * against the tiny centroid table; the probe list prunes the
    * index read to `nprobe` cells per query. */
  def searchIvf(spark: SparkSession, indexPath: String, queries: DataFrame,
      kNN: Int = 5, nprobe: Int = DefaultNprobe,
      maxQueryBatch: Int = 8192): DataFrame = {
    import spark.implicits._
    // self-contained path: nothing upstream registers the native dot
    graft.functions.GraftFunctions.ensureRegistered(spark)
    healCells(spark, indexPath)
    val cents = cachedCentroids(spark, indexPath)
    val qVecs = queries
      .select(col("qid").cast("long"),
        col("qemb").cast("array<double>").as("qemb"))
      .limit(maxQueryBatch + 1)
      .collect().map { r =>
        val q = r.getSeq[Double](1)
        val n = math.sqrt(q.map(x => x * x).sum)
        (r.getLong(0), if (n > 0) q.map(_ / n) else q)
      }
    require(qVecs.length <= maxQueryBatch,
      s"searchIvf is a serving path: > $maxQueryBatch query vectors in one batch")

    val probes: Seq[(Long, Int)] = qVecs.toSeq.flatMap { case (id, q) =>
      cents.zipWithIndex
        .map { case (c, kk) => (kk, (0 until q.length).map(i => q(i) * c(i)).sum) }
        .sortBy { case (kk, d) => (-d, kk) }.take(nprobe)
        .map { case (kk, _) => (id, kk) }
    }
    val probedCells = probes.map(_._2).distinct
    // cells absent = a delete-everything fold erased the table: serve
    // the well-formed empty result instead of a read failure
    val cellsPath = new org.apache.hadoop.fs.Path(s"$indexPath/cells")
    if (!cellsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(cellsPath))
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("qid", "rank", "nid", "sim")
    // isin on the partition column -> file-level pruning of the read;
    // tombstoned vectors (StreamOps.deleteDocs) never serve
    val probed = graft.streaming.StreamOps.minusTombstones(
      spark.read.parquet(s"$indexPath/cells")
        .filter(col("cell").isin(probedCells: _*)), "vec_id", indexPath)
    val qEmb = qVecs.toSeq.map { case (id, q) => (id, q) }.toDF("qid", "qemb")
    probed
      .join(broadcast(probes.toDF("qid", "cell")), Seq("cell"))
      .join(broadcast(qEmb), Seq("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(call_function("graft_dot", col("qemb"), col("emb")), 4).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))).cast("long"))
      .filter(col("rank") <= kNN)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** The COMPOSED index — coarse IVF cells over PQ codes, the
    * FAISS-production structure (here without residual encoding: the
    * PQ book quantizes raw vectors, so it is shared verbatim with
    * the flat PQ index and searchPq): the probe list bounds the SCAN
    * FRACTION (partition pruning on `cell`) and the codes bound the
    * BYTES PER ROW (m ints) — at 100 TB the two multiply into a
    * nprobe/k × m/(8·dim) read. */
  def buildIvfPq(spark: SparkSession, dir: String, indexPath: String,
      kCells: Int = 16, m: Int = 8, kCodes: Int = 32, lloydRounds: Int = 4,
      trainMod: Int = 1, maxTrain: Int = 4096): Unit = {
    val sub = VectorQueries.Dim / m
    val emb = VectorQueries.embNormed(spark, dir).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sample: Array[Array[Double]] = emb
      .filter(pmod(col("vec_id"), lit(trainMod)) === 0)
      .orderBy(col("vec_id")).limit(maxTrain)
      .select(col("emb")).collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= math.max(kCells, kCodes),
      s"IVFPQ training sample ${sample.length} too small — lower trainMod")
    val cents = VectorQueries.pqTrain(sample, 1, kCells, VectorQueries.Dim, lloydRounds).head
    val book = VectorQueries.pqTrain(sample, m, kCodes, sub, lloydRounds)

    import spark.implicits._
    invalidateCentroids(indexPath) // rebuild replaces the quantizer
    cents.zipWithIndex.map { case (c, kk) => (kk, c) }.toDF("kk", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/cents")
    stampBuildToken(spark, indexPath)
    book.zipWithIndex.flatMap { case (cs, mm) =>
      cs.zipWithIndex.map { case (c, kk) => (mm, kk, c) }
    }.toDF("mm", "kk", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/book")
    emb.select(col("vec_id"),
        VectorQueries.pqAssignExpr(book, col("emb"), m, sub).as("codes"),
        nearestCellExpr(cents, col("emb")).as("cell"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexPath/cells")
    emb.unpersist(false)
  }

  /** Search the composed index: probe prunes the read, ADC scores
    * only probed codes, exact re-rank fetches embeddings for the
    * shortlist ids only (the corpus table's one remaining role). */
  def searchIvfPq(spark: SparkSession, dir: String, indexPath: String,
      queries: DataFrame, kNN: Int = 5, nprobe: Int = 6, shortlist: Int = 100,
      maxQueryBatch: Int = 8192): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    healCells(spark, indexPath)
    val cents = cachedCentroids(spark, indexPath)
    val book = readBook(spark, indexPath)
    lastStoredIvfPq = Some((cents, book, nprobe, shortlist))
    val m = book.length; val k = book.head.length
    val qVecs = queries
      .select(col("qid").cast("long"),
        col("qemb").cast("array<double>").as("qemb"))
      .limit(maxQueryBatch + 1)
      .collect().map { r =>
        val q = r.getSeq[Double](1)
        val n = math.sqrt(q.map(x => x * x).sum)
        (r.getLong(0), if (n > 0) q.map(_ / n) else q)
      }
    require(qVecs.length <= maxQueryBatch,
      s"searchIvfPq is a serving path: > $maxQueryBatch query vectors in one batch")

    val probes: Seq[(Long, Int)] = qVecs.toSeq.flatMap { case (id, q) =>
      cents.zipWithIndex
        .map { case (c, kk) => (kk, (0 until q.length).map(i => q(i) * c(i)).sum) }
        .sortBy { case (kk, d) => (-d, kk) }.take(nprobe)
        .map { case (kk, _) => (id, kk) }
    }
    val luts = qVecs.toSeq.map { case (id, q) =>
      (id, VectorQueries.pqLut(book, q)) }.toDF("qid", "lut")

    val probed = graft.streaming.StreamOps.minusTombstones(
      spark.read.parquet(s"$indexPath/cells")
        .filter(col("cell").isin(probes.map(_._2).distinct: _*)),
      "vec_id", indexPath)
    val candidates = probed
      .join(broadcast(probes.toDF("qid", "cell")), Seq("cell"))
      .join(broadcast(luts), Seq("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        VectorQueries.pqAdcExpr(m, k).as("adc_score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("adc_score").desc, col("nid"))))
      .filter(col("rk") <= shortlist)
      .select(col("qid"), col("nid"))

    val emb = VectorQueries.embNormed(spark, dir)
    val qEmb = qVecs.toSeq.map { case (id, q) => (id, q) }.toDF("qid", "qemb")
    candidates
      .join(broadcast(qEmb), Seq("qid"))
      .join(emb.select(col("vec_id").as("nid"), col("emb")), Seq("nid"))
      .select(col("qid"), col("nid"),
        round(call_function("graft_dot", col("qemb"), col("emb")), 4).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))).cast("long"))
      .filter(col("rank") <= kNN)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** Top-`kNN` per query against the stored index. `queries` is
    * (qid: Long, qemb: Array[Float|Double]) — external vectors, the
    * serving shape (normalized here, like scoreQueries). `dir` still
    * supplies the corpus embeddings for the exact re-rank of the
    * shortlist; a pure compressed-domain search (skip the re-rank)
    * would drop that dependency at the cost of approximate scores. */
  def searchPq(spark: SparkSession, dir: String, indexPath: String,
      queries: DataFrame, kNN: Int = 5, shortlist: Int = 100,
      maxQueryBatch: Int = 8192): DataFrame = {
    val book = readBook(spark, indexPath)
    lastStoredPq = Some((book, shortlist))
    val m = book.length; val k = book.head.length
    import spark.implicits._
    // queries are collected to compute driver-side LUTs and ride the
    // scoring join as a broadcast — correct ONLY for serving-sized
    // batches, so the bound is explicit rather than an OOM surprise.
    // A corpus-sized query set is a different shape (compute LUTs
    // distributed, shuffle-join on codes) — out of serving scope.
    val qVecs = queries
      .select(col("qid").cast("long"),
        col("qemb").cast("array<double>").as("qemb"))
      .limit(maxQueryBatch + 1)
      .collect().map { r =>
        val q = r.getSeq[Double](1)
        val n = math.sqrt(q.map(x => x * x).sum)
        (r.getLong(0), if (n > 0) q.map(_ / n) else q)
      }
    require(qVecs.length <= maxQueryBatch,
      s"searchPq is a serving path: > $maxQueryBatch query vectors in one " +
        "batch — split the batch or raise maxQueryBatch explicitly")
    val luts = qVecs.toSeq.map { case (id, q) =>
        (id, VectorQueries.pqLut(book, q)) }.toDF("qid", "lut")

    val codes = graft.streaming.StreamOps.minusTombstones(
      spark.read.parquet(s"$indexPath/codes"), "vec_id", indexPath)
    val candidates = codes.crossJoin(broadcast(luts))
      .select(col("qid"), col("vec_id").as("nid"),
        VectorQueries.pqAdcExpr(m, k).as("adc_score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("adc_score").desc, col("nid"))))
      .filter(col("rk") <= shortlist)
      .select(col("qid"), col("nid"))

    // exact re-rank of the shortlist — the queries are EXTERNAL, so
    // unlike topkByDot the query side comes from the broadcast qVecs
    val emb = VectorQueries.embNormed(spark, dir)
    val qEmb = qVecs.toSeq.map { case (id, q) => (id, q) }.toDF("qid", "qemb")
    candidates
      .join(broadcast(qEmb), Seq("qid"))
      .join(emb.select(col("vec_id").as("nid"), col("emb")), Seq("nid"))
      .select(col("qid"), col("nid"),
        round(call_function("graft_dot", col("qemb"), col("emb")), 4).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))).cast("long"))
      .filter(col("rank") <= kNN)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  // ——— stored-index model registers + oracle renderers ———
  //
  // Set when a search reads its model from the index; consumed by
  // SparkEntry.oracleSql after Verify has run the stored-index
  // queries in this JVM (the same contract as VectorQueries'
  // registers). The rendered SQL recomputes cell assignment / codes
  // from the embeddings table with the STORED model — equal to the
  // persisted index contents because the build derived them from the
  // same table with the same expressions. DerivedCache rebuilds an
  // index whenever the embeddings files or the code change, and any
  // stale index that still slipped through would surface as a loud
  // oracle mismatch rather than silent drift. Both serving paths keep
  // self-pairs: their queries are external by contract, so "self" has
  // no special status (corpusQueries just happens to reuse corpus
  // vectors as the deterministic query set).
  @volatile private[graft] var lastStoredIvf: Option[(Seq[Seq[Double]], Int)] = None
  @volatile private[graft] var lastStoredPq: Option[(Seq[Seq[Seq[Double]]], Int)] = None
  @volatile private[graft] var lastStoredIvfDel: Option[(Seq[Seq[Double]], Int)] = None

  private[graft] def storedIvfOracleSql: Option[String] =
    lastStoredIvf.map { case (cents, nprobe) =>
      VectorQueries.ivfOracleSqlOf(cents, nprobe, excludeSelf = false) }

  private[graft] def storedIvfDelOracleSql: Option[String] =
    lastStoredIvfDel.map { case (cents, nprobe) =>
      VectorQueries.ivfOracleSqlOf(cents, nprobe, excludeSelf = false,
        delPred = Some(DelPredSql)) }

  private[graft] def storedPqOracleSql: Option[String] =
    lastStoredPq.map { case (book, shortlist) =>
      VectorQueries.pqOracleSqlOf(book, shortlist, excludeSelf = false) }

  @volatile private[graft] var lastStoredIvfPq:
    Option[(Seq[Seq[Double]], Seq[Seq[Seq[Double]]], Int, Int)] = None

  private[graft] def storedIvfPqOracleSql: Option[String] =
    lastStoredIvfPq.map { case (cents, book, nprobe, shortlist) =>
      VectorQueries.ivfPqOracleSqlOf(cents, book, nprobe, shortlist) }

  @volatile private[graft] var lastStaleness: Option[Seq[Seq[Double]]] = None

  /** DuckDB oracle for `ann_ivf_staleness`: recomputes BOTH sides
    * from the rendered quantizer — build stats from the normalized
    * corpus (equal to the engine's persisted `stats` because buildIvf
    * derived them from the same table with the same expressions —
    * a stale stats file surfaces as a loud mismatch), current stats
    * from corpus ∪ the reversed drift batch. Per-row max-dots are
    * rounded to 4dp then decimal-summed, so the cross-row aggregation
    * is order-independent on both engines; the reversal is applied to
    * the RAW array before the norm divide, mirroring the engine's
    * reverse→normalize order (dot accumulation order matters to the
    * last bit). */
  private[graft] def stalenessOracleSql: Option[String] =
    lastStaleness.map { cents =>
      val k = cents.length
      s"""WITH ${VectorQueries.NormedCte},
            d0 AS (SELECT vec_id + $DriftOffset AS vec_id,
                  list_reverse(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS emb FROM embeddings),
            dn AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM d0),
            de AS (SELECT vec_id, list_transform(emb, x -> x / nrm) AS emb
                  FROM dn WHERE nrm > 0),
            cents(cid, w, c2) AS (VALUES
           ${VectorQueries.centroidValues(cents)}),
            ball AS (SELECT vec_id, emb FROM e
                  UNION ALL SELECT vec_id, emb FROM de),
            sc AS (SELECT b.vec_id, c.cid, list_dot_product(b.emb, c.w) AS dp
                  FROM ball b CROSS JOIN cents c),
            asg AS (SELECT vec_id, dp,
                  row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cid) AS rk,
                  cid FROM sc),
            a1 AS (SELECT vec_id, cid, CAST(round(dp, 4) AS DECIMAL(18,4)) AS qd
                  FROM asg WHERE rk = 1),
            base AS (SELECT * FROM a1 WHERE vec_id < $DriftOffset),
            bcell AS (SELECT cid, count(*) AS n FROM base GROUP BY cid),
            bagg AS (SELECT CAST(sum(n) AS BIGINT) AS n_build, max(n) AS mx
                  FROM bcell),
            bdot AS (SELECT sum(qd) AS sd FROM base),
            ccell AS (SELECT cid, count(*) AS n FROM a1 GROUP BY cid),
            cagg AS (SELECT CAST(sum(n) AS BIGINT) AS n_total, max(n) AS mx
                  FROM ccell),
            cdot AS (SELECT sum(qd) AS sd FROM a1)
         SELECT bagg.n_build, cagg.n_total,
           round(CAST(bdot.sd AS DOUBLE) / bagg.n_build, 4) AS mean_dot_build,
           round(CAST(cdot.sd AS DOUBLE) / cagg.n_total, 4) AS mean_dot_cur,
           round(CAST(bagg.mx * $k AS DOUBLE) / bagg.n_build, 4) AS occ_skew_build,
           round(CAST(cagg.mx * $k AS DOUBLE) / cagg.n_total, 4) AS occ_skew_cur,
           (round(CAST(cdot.sd AS DOUBLE) / cagg.n_total, 4)
              < ${1 - StaleRelTol} * round(CAST(bdot.sd AS DOUBLE) / bagg.n_build, 4)
            OR round(CAST(cagg.mx * $k AS DOUBLE) / cagg.n_total, 4)
              > $StaleSkewFactor * round(CAST(bagg.mx * $k AS DOUBLE) / bagg.n_build, 4))
             AS rebuild
         FROM bagg, cagg, bdot, cdot"""
    }

  // ───────── Graph ANN: NSW-lite k-NN graph + greedy beam search ─────────
  //
  // The serving structure the quantization family (LSH/IVF/PQ) does not
  // cover: a NAVIGABLE graph — each corpus vector keeps its GraphDegree
  // nearest neighbors as edges, and a query walks the graph greedily
  // from its nearest cells' entry points (GraphSeedCells — the walk's
  // nprobe), refining toward its true neighborhood.
  // HNSW's essential ingredients without the hierarchy (at GraphHops
  // fixed hops from per-cell entry points the hierarchy's log-layers
  // buy nothing at these diameters; the design doc below states where
  // they would slot in).
  //
  // BUILD (one-time, amortized across every later query):
  //   candidate generation is IVF-seeded, never all-pairs — each vector
  //   is assigned to its 2 nearest coarse cells (the 2nd assignment is
  //   what stitches adjacent clusters together so the graph stays
  //   connected across cell borders), pairs are generated WITHIN cells
  //   only, and each node keeps its top-GraphDegree by exact dot. The
  //   cell count is ≈ n/GraphCellTarget up to the trainable ceiling
  //   MaxGraphCells (the driver-sample bound — see its Scaladoc) and
  //   two levers keep every stage linear in n at any corpus size:
  //    - TWO-LEVEL assignment: the quantizer is hierarchical —
  //      ~√cells super-centroids, each owning its own sub-cells —
  //      and a vector (or query) scores the supers first, then only
  //      the cells of its top-2 supers, so the assignment scan is
  //      n × O(√cells) dots instead of n × cells (the IVF-HNSW /
  //      two-level-IMI discipline). The top-2 SUPERS also bound the
  //      stitch: both member cells come from the same neighborhood
  //      of the space.
  //    - BOUNDED CELL SIZE at the pair stage: a cell whose membership
  //      exceeds 2×GraphShardTarget (k-means skew — the mega-cluster
  //      case) is sharded into ⌈cnt/GraphShardTarget⌉ deterministic
  //      vec_id-mod slices BEFORE pair generation, so the per-cell
  //      pair frame is ≤ cells' × shard², never cnt² — the same
  //      grow-k-with-N + split-oversized argument emb_semdedup makes.
  //      (Shard borders cost a few candidate edges inside one skewed
  //      cell; the dual assignment keeps its members reachable.)
  //   Rows are written partitionBy(primary cell) with each edge
  //   carrying its endpoint's cell, so SERVING reads prune to the
  //   cells the walk actually visits — the same physical-pruning
  //   argument as IVF's partitionBy("cell"), with the walk replacing
  //   nprobe.
  //
  // SEARCH — two forms sharing one fixed-round greedy semantics:
  //   searchGraph (bounded-driver, the localSupersteps pattern):
  //   per-hop state is queries × beam candidates — serving-batch-sized
  //   by contract (maxQueryBatch guard) — so the walk runs as a driver
  //   loop of PARTITION-PRUNED index reads (cell ∈ visited, vec_id ∈
  //   frontier), each bounded by beam × degree rows. At 100 TB the
  //   index read stays pruned (that is the point).
  //   searchGraphBatch (distributed): the corpus-sized-query-batch
  //   handoff — per-query state held as qid-keyed DataFrames, per hop
  //   one frontier window + joins against the edge list and embedding
  //   column, pool/expanded accumulated as shallow unions of
  //   checkpointed legs. Pinned row-identical to the driver walk.
  //
  // Correctness: hash-gated end to end — the build is deterministic
  // given the trained quantizer (two builds byte-equal,
  // VectorIndexSpec), so the DuckDB oracle recomputes the whole graph
  // from the embeddings table plus the rendered centroids and unrolls
  // the fixed-round walk (graphOracleSqlOf). VectorIndexSpec remains
  // the semantic floor: recall@5 ≥ 0.9 vs the exact brute answer, self
  // at rank 1, determinism across runs, degree bound, and the pruned
  // serve (scan numFiles < index files).

  private[graft] val GraphDegree = 8
  private[graft] val GraphBeam = 8
  private[graft] val GraphHops = 4
  /** Target PRIMARY members per cell — cells ≈ n/GraphCellTarget
    * up to [[MaxGraphCells]] (per-vector assignment cost stays
    * O(√cells) via the two-level quantizer). */
  private[graft] val GraphCellTarget = 500
  /** Ceiling on the trainable cell count. The quantizer is k-means
    * over a DRIVER-side sample of ~8 rows per cell, so an uncapped
    * cell count would grow the collect and the training dot budget
    * linearly with the corpus (at 500M vectors: an 8M-row collect +
    * ~10^10 driver dots). At 2^16 cells the sample tops out at 512k
    * rows and training at ~10^9 dots — a fixed, survivable driver
    * cost. LINEARITY of the build's pair frame does NOT depend on
    * this cap: past it, cell membership grows as n/2^16, and
    * [[attachShards]] splits any cell over 2×GraphShardTarget into
    * vec_id-mod shards, keeping within-cell pairs ≤ n×GraphShardTarget
    * at any corpus size — the cap trades only quantizer granularity
    * (the same trade every bounded-codebook IVF makes), not scale
    * safety. */
  private[graft] val MaxGraphCells = 1 << 16
  /** Pair-stage shard size: a cell whose membership (primary +
    * stitch) exceeds 2× this is split into ⌈cnt/target⌉ vec_id-mod
    * shards before pair generation, bounding the within-cell pair
    * frame under k-means skew. */
  private[graft] val GraphShardTarget = 1000
  /** Below this many cells the quantizer keeps ONE super owning every
    * cell — the two-level assignment then degenerates to exact flat
    * top-2-of-all-cells (a flat scan of ≤ 64 cells costs less than
    * the hierarchy saves, and small corpora keep full assignment
    * accuracy). Above it, ~√cells supers prune the scan to O(√cells)
    * dots per vector — the accuracy trade every IVF tree makes, taken
    * only where it pays. */
  private[graft] val GraphFlatCellBound = 64
  /** Entry cells probed per query — the walk's nprobe: hop 0 reads
    * only these cells' partitions, so the first fetch is pruned like
    * every later one (seeding from ALL entry points would scan every
    * partition — index-proportional I/O on the serving path). */
  private[graft] val GraphSeedCells = 4

  /** Test hooks: per-fetch distinct cell sets and node counts of the
    * most recent searchGraph call, in hop order — let the spec pin
    * that the WALK'S OWN reads prune (hop-0 bounded by the seed
    * cells) and that total rows fetched are walk-sized, not
    * corpus-sized, rather than only checking a synthetic filter. */
  @volatile private[graft] var lastFetchCells: List[Set[Int]] = Nil
  @volatile private[graft] var lastFetchNodes: List[Int] = Nil

  /** The graph index's hierarchical coarse quantizer: `supers(s)` is
    * super-centroid s; `cells(k) = (sid, centroid)` is cell k owned
    * by super sid. Cell ids are positions in `cells`. Both levels are
    * the SEMANTIC model (the oracle renders both and replays the
    * two-level assignment), not an implementation detail. */
  private[graft] case class GraphQuantizer(
      supers: Seq[Seq[Double]], cells: Seq[(Int, Seq[Double])])

  /** Deterministic hierarchical training: Lloyd the supers on the
    * whole sample, partition the sample by max-dot super (ties to the
    * lower sid — the assignment tie rule), then Lloyd each super's
    * sub-cells on its members with a proportional share of the cell
    * budget. Supers that end up with no sample members (Lloyd can
    * strand an initial centroid) are dropped and sids re-packed, so
    * every stored super owns ≥ 1 cell. Driver-side: the sample is
    * bounded (≈ 8 rows per requested cell), and the per-super Lloyd
    * is embarrassingly parallel if it ever needs to move off the
    * driver. */
  private[graft] def trainGraphQuantizer(sample: Array[Array[Double]],
      cellsTarget: Int, lloydRounds: Int): GraphQuantizer = {
    require(sample.nonEmpty, "graph training sample is empty")
    val sCount =
      if (cellsTarget <= GraphFlatCellBound) 1
      else math.min(sample.length,
        math.max(2, math.ceil(math.sqrt(cellsTarget.toDouble)).toInt))
    val supers0 =
      VectorQueries.pqTrain(sample, 1, sCount, VectorQueries.Dim, lloydRounds).head
    def bestSuper(v: Array[Double]): Int = {
      var best = 0; var bestD = Double.NegativeInfinity
      var s = 0
      while (s < supers0.length) {
        var d = 0.0; var i = 0
        val c = supers0(s)
        while (i < v.length) { d += v(i) * c(i); i += 1 }
        if (d > bestD) { bestD = d; best = s }
        s += 1
      }
      best
    }
    // stable partition: sample order (vec_id order) is preserved per
    // super, so pqTrain's first-k initialization is deterministic
    val membersOf = Array.fill(supers0.length)(
      scala.collection.mutable.ArrayBuffer.empty[Array[Double]])
    sample.foreach(v => membersOf(bestSuper(v)) += v)
    val kept = supers0.indices.filter(membersOf(_).nonEmpty)
    val quantizer = kept.map { s =>
      val members = membersOf(s).toArray
      val share = math.max(1, math.min(members.length,
        math.round(cellsTarget.toDouble * members.length / sample.length).toInt))
      val subs =
        VectorQueries.pqTrain(members, 1, share, VectorQueries.Dim, lloydRounds).head
      supers0(s) -> subs
    }
    GraphQuantizer(
      quantizer.map(_._1),
      quantizer.zipWithIndex.flatMap { case ((_, subs), sid) =>
        subs.map(c => (sid, c)) })
  }

  /** Build the NSW-lite graph index: `supers/` + `cents/` (the
    * two-level quantizer), `graph/` (vec_id, emb, nbrs — struct(nid,
    * cell) edges, partitioned by the node's primary cell), `entries/`
    * (per-cell entry point: the vector nearest its centroid —
    * deterministic, and well-centered for greedy descent), and
    * `members/` (the top-2 cell-membership roster the streaming
    * maintainer recomputes affected neighborhoods from). */
  def buildGraph(spark: SparkSession, dir: String, indexPath: String,
      degree: Int = GraphDegree, lloydRounds: Int = 4,
      maxTrain: Int = 4096): Unit = {
    val emb = VectorQueries.embNormed(spark, dir).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    trainAndWriteGraph(spark, emb, indexPath, degree, lloydRounds, maxTrain)
    emb.unpersist(false)
  }

  /** The quantizer-training + table-writing core of [[buildGraph]],
    * over an already-NORMALIZED (vec_id, emb) frame — split out so
    * the staged rebuild operator (StreamOps.rebuildGraphIndex) can
    * retrain over the maintained roster (whose embs were normalized
    * once at original build/ingest time; re-normalizing would move
    * last-ulp bits and break the rebuild-equals-fresh-build
    * equality). */
  /** The adaptive cell count a build over `n` vectors trains —
    * bounded only by the trainable ceiling (the pair frame stays
    * linear at ANY n because cell SIZE is bounded via attachShards,
    * and the assignment scan stays linear because the quantizer is
    * two-level; see [[MaxGraphCells]]). Shared with the maintenance
    * policy so rebuild-WHEN compares against exactly what a rebuild
    * WOULD train. */
  private[graft] def graphCellsTarget(n: Long): Int = math.max(16,
    math.min(MaxGraphCells.toLong, n / GraphCellTarget + 1).toInt)

  private[graft] def trainAndWriteGraph(spark: SparkSession, emb: DataFrame,
      indexPath: String, degree: Int = GraphDegree, lloydRounds: Int = 4,
      maxTrain: Int = 4096): Unit = {
    val n = emb.count()
    val cellsTarget = graphCellsTarget(n)
    // 8 sample rows per cell, capped with the cell count — the
    // collect is bounded (≤ 8×2^16 rows) regardless of the corpus
    val sampleN = math.max(maxTrain, 8 * cellsTarget)
    val sample: Array[Array[Double]] = emb
      .orderBy(col("vec_id")).limit(sampleN)
      .select(col("emb")).collect().map(_.getSeq[Double](0).toArray)
    val q = trainGraphQuantizer(sample, cellsTarget, lloydRounds)

    import spark.implicits._
    // persist the quantizer: serving seeds the walk from the QUERY'S
    // nearest cells (not every entry point — that first fetch would
    // scan every partition, index-proportional I/O on the serve path)
    invalidateCentroids(indexPath)
    q.supers.zipWithIndex.map { case (c, sid) => (sid, c) }.toDF("sid", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/supers")
    q.cells.zipWithIndex.map { case ((sid, c), kk) => (kk, sid, c) }
      .toDF("kk", "sid", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/cents")
    stampBuildToken(spark, indexPath)
    writeGraphTables(spark, emb.select(col("vec_id"), col("emb")),
      q, indexPath, degree)
  }

  /** Top-`topK` cell assignments of a normalized (vec_id, emb) frame
    * under the two-level quantizer: score the supers (a posexplode of
    * the √cells-wide dot row), keep the top-2 per vector, then score
    * ONLY those supers' cells via a broadcast join on sid. Per-row
    * work is O(√cells) dots — never O(cells) — and the second window
    * reuses the first's vec_id hash partitioning (one exchange, two
    * sorts). Shared verbatim by the one-shot build, the streaming
    * maintainer, and the distributed walk's seed stage — batch and
    * incremental assignment can never disagree. */
  private[graft] def assignCellsExpr(q: GraphQuantizer, src: DataFrame,
      topK: Int = 2): DataFrame = {
    val spark = src.sparkSession
    import spark.implicits._
    val sdots = src.select(col("vec_id"), col("emb"),
        posexplode(array(q.supers.map(s =>
          call_function("graft_dot", col("emb"), typedlit(s))): _*)))
      .select(col("vec_id"), col("emb"), col("pos").as("sid"), col("col").as("sdp"))
    val top2s = sdots.withColumn("srk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("sdp").desc, col("sid"))))
      .filter(col("srk") <= 2).select(col("vec_id"), col("emb"), col("sid"))
    val cellsDf = q.cells.zipWithIndex
      .map { case ((sid, c), kk) => (kk, sid, c) }.toDF("cell", "sid", "cent")
    top2s.join(broadcast(cellsDf), Seq("sid"))
      .select(col("vec_id"), col("emb"), col("cell"),
        call_function("graft_dot", col("emb"), col("cent")).as("dp"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("dp").desc, col("cell"))))
      .filter(col("rk") <= topK)
  }

  /** Shard oversized cells for the pair stage: per-cell member counts
    * are computed from the GIVEN frame (the build passes the full
    * roster; the maintainer passes the full current membership of
    * every touched cell — identical counts for those cells by
    * construction), and a cell over 2×GraphShardTarget splits into
    * ⌈cnt/GraphShardTarget⌉ vec_id-mod shards. Adds `sh`; pair
    * generation then joins on (cell, sh). */
  private[graft] def attachShards(members: DataFrame,
      target: Int = GraphShardTarget): DataFrame = {
    val counts = members.groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
    val nsh = counts.select(col("cell"),
      when(col("cnt") > 2L * target,
          ceil(col("cnt") / lit(target.toDouble)).cast("long"))
        .otherwise(lit(1L)).as("nsh"))
    members.join(broadcast(nsh), Seq("cell"))
      .withColumn("sh", pmod(col("vec_id"), col("nsh"))).drop("nsh")
  }

  /** Aggregate a directed top-`degree` edge frame (src, nid, sim) into
    * rank-ordered neighbor lists with each neighbor's primary cell
    * attached — the one definition of the stored adjacency shape,
    * shared by build and maintainer. `primaryOf` maps nid → its
    * primary cell. */
  private[graft] def nbrListsOf(topEdges: DataFrame, primaryOf: DataFrame): DataFrame =
    topEdges
      .join(primaryOf.select(col("vec_id").as("nid"), col("cell").as("nbr_cell")), Seq("nid"))
      .groupBy(col("src"))
      .agg(sort_array(collect_list(struct(col("rk"), col("nid"), col("nbr_cell")))).as("sn"))
      .select(col("src").as("vec_id"),
        expr("transform(sn, e -> struct(e.nid AS nid, e.nbr_cell AS cell))").as("nbrs"))

  private[graft] val EmptyNbrs =
    typedlit(Seq.empty[(Long, Int)]).cast("array<struct<nid:bigint,cell:int>>")

  /** Compute and persist the graph/entries/members tables of `emb`
    * (normalized (vec_id, emb)) under a FIXED quantizer. Split out of
    * buildGraph so the streaming maintainer's spec can rebuild the
    * reference state under the live index's own centroids — the
    * train-once contract makes the quantizer a parameter, not a
    * product, of everything downstream. */
  private[graft] def writeGraphTables(spark: SparkSession, emb: DataFrame,
      q: GraphQuantizer, indexPath: String,
      degree: Int = GraphDegree,
      shardTarget: Int = GraphShardTarget): Unit = {
    val assign = assignCellsExpr(q, emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val primary = assign.filter(col("rk") === 1)
      .select(col("vec_id"), col("cell"), col("emb"), col("dp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // within-(cell, shard) candidate pairs → exact dot → top-degree
    // per node. Shards bound the pair frame under k-means skew
    // (attachShards); both directions are emitted before the window
    // so an edge (a, b) can survive at a even when b's neighborhood
    // is more crowded.
    val members = attachShards(
      assign.select(col("cell"), col("vec_id"), col("emb")), shardTarget)
    val pairs = members.as("x").join(members.as("y"), Seq("cell", "sh"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        call_function("graft_dot", col("x.emb"), col("y.emb")).as("sim"))
      .groupBy(col("a"), col("b")).agg(max(col("sim")).as("sim")) // dedup dual-assignment pairs
    val directed = pairs.select(col("a").as("src"), col("b").as("nid"), col("sim"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("nid"), col("sim")))
    val topEdges = directed.withColumn("rk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("sim").desc, col("nid"))))
      .filter(col("rk") <= degree)
    primary.join(nbrListsOf(topEdges, primary), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("emb"),
        coalesce(col("nbrs"), EmptyNbrs).as("nbrs"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexPath/graph")
    // entry points: per cell, the member closest to the centroid
    primary.withColumn("rk", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("dp").desc, col("vec_id"))))
      .filter(col("rk") === 1).select(col("cell"), col("vec_id"))
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/entries")
    // membership roster: what the maintainer's exact neighborhood
    // recompute joins against (rk distinguishes primary from stitch)
    assign.select(col("cell"), col("vec_id"), col("emb"), col("rk"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexPath/members")
    assign.unpersist(false); primary.unpersist(false)
  }

  /** Total parquet bytes of the graph table plus its delta log — the
    * zero-job size signal behind the serve's local-preload gate (one
    * recursive content listing per root, no data touched). */
  private def graphFileBytes(spark: SparkSession, indexPath: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(s"$indexPath/graph", s"$indexPath/graph_delta").map { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(conf)
      if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
    }.sum
  }

  /** Partition-pruned fetch of graph rows for a bounded id set —
    * resolved through the maintainer's delta (an ingested node, or an
    * old node whose neighborhood an ingest rewrote, serves its latest
    * adjacency). */
  private def readGraphRows(spark: SparkSession, indexPath: String,
      wanted: Map[Long, Int]): Map[Long, (Array[Double], Array[(Long, Int)])] = {
    if (wanted.isEmpty) return Map.empty
    // pre-filter tombstoned ids on the driver when the log fits the
    // tombstone_set gate: a tombstoned row never serves, so dropping
    // its id from the walk-sized fetch set is the same statement as
    // the per-fetch anti-join it replaces (route-pinned in the spec)
    val ts = cachedTombstoneSet(spark, indexPath)
    val live = ts match {
      case Some(ids) if ids.nonEmpty => wanted.filterNot { case (id, _) =>
        java.util.Arrays.binarySearch(ids, id) >= 0 }
      case _ => wanted
    }
    if (live.isEmpty) return Map.empty
    val cellSet = live.values.toSeq.distinct
    resolvedGraph(spark, indexPath,
        cellsOf = Some(cellSet), idsOf = Some(live.keys.toSeq),
        skipTombstones = ts.isDefined)
      .select(col("vec_id"), col("emb"), col("nbrs"))
      .collect()
      .map { r =>
        val nbrs = r.getSeq[org.apache.spark.sql.Row](2)
          .map(e => (e.getLong(0), e.getInt(1))).toArray
        r.getLong(0) -> (r.getSeq[Double](1).toArray, nbrs)
      }.toMap
  }

  /** Greedy beam search over the stored graph. `queries` is a bounded
    * serving batch (qid, qemb — RAW vectors; normalized here).
    * Output matches the family schema: (qid, rank, nid, sim), self
    * included, sim = 4dp-rounded cosine, ties by nid. */
  def searchGraph(spark: SparkSession, indexPath: String, queries: DataFrame,
      beam: Int = GraphBeam, hops: Int = GraphHops, k: Int = 5,
      maxQueryBatch: Int = 8192): DataFrame = {
    val qs: Array[(Long, Array[Double])] = queries
      .select(col("qid"), col("qemb").cast("array<double>"))
      .limit(maxQueryBatch + 1).collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        val nrm = math.sqrt(v.map(x => x * x).sum)
        (r.getLong(0), if (nrm > 0) v.map(_ / nrm) else v)
      }
    require(qs.length <= maxQueryBatch,
      s"searchGraph is a serving path: > $maxQueryBatch query vectors in " +
        "one batch — searchGraphBatch is the corpus-sized-batch form")
    val cellEntry: Map[Int, Long] = cachedEntries(spark, indexPath)

    // ONE similarity definition for seed scoring AND pool scoring
    // (Seq covers both the cached centroids and fetched Arrays)
    def dot(a: Array[Double], b: scala.collection.Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

    // one fetch cache across queries and hops — every id is read once
    val fetched = scala.collection.mutable.Map.empty[Long, (Array[Double], Array[(Long, Int)])]
    lastFetchCells = Nil
    lastFetchNodes = Nil
    // LOCAL-MODEL PRELOAD (round-18, the ann_graph_batch treatment
    // applied to the serve — the `graph_preload` gate): when the
    // resolved graph index — the MODEL, embeddings + adjacency —
    // provably fits the batch route's broadcast budget, collect it
    // ONCE and every hop's fetch becomes a map lookup, replacing
    // hops+1 pruned parquet-read jobs with one read. The estimate is
    // a FILE-LENGTH bound (one recursive listing, zero jobs): in-memory
    // rows of this table run well under 8× their parquet bytes, so
    // `fileBytes * 8 ≤ budget` proves the collect fits. Past the bound
    // the per-hop selective fetch below runs unchanged — at 100 TB
    // index sizes the serve never reads more than walk-sized slices
    // (spec-pinned: the forced-dist route and the preloaded route are
    // row-identical; preloading cannot change the walk because
    // `fetched` holds exactly the live rows either way — resolvedGraph
    // applies the same tombstone/delta resolution the per-hop fetch
    // does).
    val preloaded = Route.local(spark, "graph_preload",
        GraphBatchBroadcastMaxBytes.toDouble)(
      (graphFileBytes(spark, indexPath) * 8).toDouble)
    if (preloaded) {
      resolvedGraph(spark, indexPath)
        .select(col("vec_id"), col("emb"), col("nbrs"))
        .collect().foreach { r =>
          fetched(r.getLong(0)) = (r.getSeq[Double](1).toArray,
            r.getSeq[org.apache.spark.sql.Row](2)
              .map(e => (e.getLong(0), e.getInt(1))).toArray)
        }
    }
    def fetch(want: Map[Long, Int]): Unit = if (!preloaded) {
      val missing = want.filterNot { case (id, _) => fetched.contains(id) }
      if (missing.nonEmpty) {
        lastFetchCells = lastFetchCells :+ missing.values.toSet
        lastFetchNodes = lastFetchNodes :+ missing.size
      }
      fetched ++= readGraphRows(spark, indexPath, missing)
    }

    // seed each query from its GraphSeedCells nearest cells' entry
    // points (the stored two-level quantizer + entry map — both ride
    // the signature-keyed caches, so a warm serve reads NO model
    // tables), so hop 0 prunes like every later hop instead of
    // touching every partition. Seeding is the assignment semantics:
    // top-2 supers by dot, then the best GraphSeedCells cells among
    // those supers' cells — O(√cells) dots per query, never O(cells).
    val qz = cachedGraphQuantizer(spark, indexPath)

    def seedCellsOf(qv: Array[Double]): Seq[Int] = {
      val topSup = qz.supers.indices
        .map(s => (dot(qv, qz.supers(s)), s))
        .sortBy { case (d, s) => (-d, s) }.take(2).map(_._2).toSet
      qz.cells.zipWithIndex
        .filter { case ((sid, _), _) => topSup(sid) }
        .map { case ((_, c), kk) => (dot(qv, c), kk) }
        .sortBy { case (d, kk) => (-d, kk) }.take(GraphSeedCells).map(_._2)
    }

    // per-query walk state: scored pool (nid -> sim), expanded set,
    // and the next frontier to score — all serving-batch-bounded
    val pool = qs.map { case (qid, _) =>
      qid -> scala.collection.mutable.Map.empty[Long, Double] }.toMap
    val expanded = qs.map { case (qid, _) =>
      qid -> scala.collection.mutable.Set.empty[Long] }.toMap
    var toScore: Map[Long, Map[Long, Int]] = qs.map { case (qid, qv) =>
      qid -> seedCellsOf(qv).flatMap(c => cellEntry.get(c).map(_ -> c)).toMap
    }.toMap

    // FIXED-ROUND contract: always hops+1 scoring rounds (seeds +
    // hops neighbor expansions), even through an all-empty toScore —
    // the frontier can still advance to not-yet-expanded pool nodes
    // whose neighbors are unscored. This is exactly what the DuckDB
    // oracle unrolls (graphOracleSql), so the two can never diverge
    // on the rare all-queries-stalled round an early exit would skip.
    var hop = 0
    while (hop <= hops) {
      fetch(toScore.valuesIterator.flatten.toMap)
      for ((qid, qv) <- qs; (nid, _) <- toScore(qid); row <- fetched.get(nid))
        pool(qid).getOrElseUpdate(nid, r4(dot(qv, row._1)))
      toScore = qs.map { case (qid, _) =>
        val frontier = pool(qid).toSeq
          .filterNot { case (nid, _) => expanded(qid).contains(nid) }
          .sortBy { case (nid, sim) => (-sim, nid) }.take(beam).map(_._1)
        expanded(qid) ++= frontier
        qid -> frontier.flatMap(fetched.get).flatMap(_._2)
          .filterNot { case (nid, _) => pool(qid).contains(nid) }.toMap
      }.toMap
      hop += 1
    }

    import spark.implicits._
    qs.flatMap { case (qid, _) =>
      pool(qid).toSeq.sortBy { case (nid, sim) => (-sim, nid) }.take(k)
        .zipWithIndex.map { case ((nid, sim), i) => (qid, (i + 1).toLong, nid, sim) }
    }.toSeq.toDF("qid", "rank", "nid", "sim")
  }

  /** Driver query: idempotent build + the fixed query set, the same
    * serving contract as the other stored variants (hash-gated via
    * the rendered-model oracle below; semantic ground truth — recall,
    * pruning, determinism — in VectorIndexSpec). */
  def annGraphStored(spark: SparkSession, dir: String): DataFrame = {
    val idx = DerivedCache.ensure(spark, "graph", dir, Corpus)(buildGraph(spark, dir, _))
    lastStoredGraph = Some(cachedGraphQuantizer(spark, idx))
    searchGraph(spark, idx, corpusQueries(spark, dir))
  }

  /** The corpus-sized-query-batch form of the graph walk — the
    * handoff the round-12 serve documented, now implemented: the
    * SAME fixed-round greedy beam semantics as `searchGraph`, with
    * every piece of per-query state held as a DataFrame keyed by qid
    * instead of driver maps, so a batch of millions of queries walks
    * the index as `hops` rounds of distributed joins:
    *
    *   pool      (qid, nid, sim) — scored candidates, a shallow union
    *             of per-hop localCheckpoint'd legs (the g6 frontier
    *             discipline: only the per-hop delta is ever
    *             re-materialized, never the accumulated state)
    *   expanded  (qid, nid)      — union of checkpointed frontiers
    *   frontier  top-`beam` unexpanded pool rows per qid (one window)
    *
    * Per hop: frontier ⋈ edge list (n×degree rows, read once and
    * persisted) → candidate (qid, nid) pairs, anti-join pool, score
    * by one join against the graph's embedding column + one against
    * the normalized query frame. Driver state: the quantizer/entry
    * caches only (model-sized). The seeds stage broadcasts the
    * √cells-sized supers table and the cells table (two-level
    * assignment — per-query work O(√cells) even with cells uncapped);
    * everything else is shuffle joins on qid/nid — at a
    * 1000-executor scale both sides partition on the join keys
    * and no stage holds more than queries × beam × degree rows.
    *
    * Equality: pinned row-identical to the driver walk on the same
    * batch (VectorIndexSpec) and hash-gated against the rendered
    * full-corpus oracle (`ann_graph_batch`). Arithmetic parity with
    * the driver walk is by construction: graft_dot ≡ the driver dot
    * loop, graft_vec_div ≡ the driver normalize, round(.,4) ≡
    * BigDecimal HALF_UP. */
  def searchGraphBatch(spark: SparkSession, indexPath: String, queries: DataFrame,
      beam: Int = GraphBeam, hops: Int = GraphHops, k: Int = 5): DataFrame = {
    // The `graph_batch_broadcast` gate, sized on the RESOLVED graph
    // (tombstones/deltas applied): one metadata-cheap agg over the
    // persisted index frame. The estimate is the broadcast payload
    // itself (embedding doubles + neighbor ids + per-node map
    // overhead), so it scales with the INDEX, never the query batch.
    val lvl0 = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val g0 = resolvedGraph(spark, indexPath)
      .select(col("vec_id").as("nid"), col("emb"), col("nbrs"))
      .persist(lvl0)
    val broadcastFits = Route.local(spark, "graph_batch_broadcast",
        GraphBatchBroadcastMaxBytes.toDouble) {
      val st = g0.agg(count(lit(1)),
        coalesce(sum(size(col("emb"))), lit(0L)),
        coalesce(sum(size(col("nbrs"))), lit(0L))).head
      (st.getLong(1) * 8L + st.getLong(2) * 16L + st.getLong(0) * 64L).toDouble
    }
    val out =
      if (broadcastFits)
        searchGraphBatchBroadcast(spark, indexPath, queries, g0, beam, hops, k)
      else searchGraphBatchJoins(spark, indexPath, queries, g0, beam, hops, k)
    g0.unpersist(false)
    out
  }

  /** Budget of the `graph_batch_broadcast` gate (and of the serve's
    * `graph_preload` gate), the broadcast ceiling for the one-shot
    * batch walk: when the resolved
    * graph index — embeddings + adjacency, the MODEL, never the query
    * batch — fits this budget, the whole fixed-round walk runs as ONE
    * narrow pass over the query frame against a broadcast of the
    * graph, replacing `hops` rounds of frontier windows + shuffle
    * joins (≈ 2 eager jobs and 4+ exchanges per hop) with zero
    * exchanges. Past the budget the join-based walk runs unchanged —
    * the LocalModelNodes degrade-don't-break pattern applied to the
    * serving batch. 256 MB ≈ 400k nodes at dim 64 / degree 8; size to
    * executor memory in production. */
  private[graft] val GraphBatchBroadcastMaxBytes: Long = 256L << 20

  /** The one-broadcast form of the batch walk: the EXACT searchGraph
    * driver-walk semantics (same seeding, scoring, tie-breaks,
    * rounding — the code is the driver walk's, applied per query in a
    * distributed map), with the graph shipped once. Row-identical to
    * the join form (VectorIndexSpec pins it; the ann_graph_batch
    * DuckDB oracle gates both). */
  private def searchGraphBatchBroadcast(spark: SparkSession, indexPath: String,
      queries: DataFrame, g: DataFrame, beam: Int, hops: Int, k: Int): DataFrame = {
    val qz = cachedGraphQuantizer(spark, indexPath)
    val entries = cachedEntries(spark, indexPath)
    val adj = new java.util.HashMap[Long, (Array[Double], Array[Long])]()
    g.select(col("nid"), col("emb"), col("nbrs")).collect().foreach { r =>
      adj.put(r.getLong(0), (r.getSeq[Double](1).toArray,
        r.getSeq[org.apache.spark.sql.Row](2).map(_.getLong(0)).toArray))
    }
    val supersA = qz.supers.map(_.toArray).toArray
    val cellsA = qz.cells.map { case (sid, c) => (sid, c.toArray) }.toArray
    val bc = spark.sparkContext.broadcast((supersA, cellsA, entries, adj))
    val seedCellCount = GraphSeedCells
    import spark.implicits._
    queries
      .select(col("qid").cast("long"), col("qemb").cast("array<double>"))
      .as[(Long, Seq[Double])]
      .flatMap { case (qid, q0) =>
        val (supers, cells, entryOf, graph) = bc.value
        def dot(a: Array[Double], b: Array[Double]): Double = {
          var s = 0.0; var i = 0
          while (i < a.length) { s += a(i) * b(i); i += 1 }
          s
        }
        def r4(x: Double): Double =
          BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        val v0 = q0.toArray
        val nrm = math.sqrt(v0.map(x => x * x).sum)
        val qv = if (nrm > 0) v0.map(_ / nrm) else v0
        // seeding: top-2 supers by dot, then the best seed cells among
        // those supers' cells — searchGraph.seedCellsOf verbatim
        val topSup = supers.indices
          .map(s => (dot(qv, supers(s)), s))
          .sortBy { case (d, s) => (-d, s) }.take(2).map(_._2).toSet
        val seedCells = cells.zipWithIndex
          .filter { case ((sid, _), _) => topSup(sid) }
          .map { case ((_, c), kk) => (dot(qv, c), kk) }
          .sortBy { case (d, kk) => (-d, kk) }.take(seedCellCount).map(_._2)
        val pool = scala.collection.mutable.Map.empty[Long, Double]
        val expanded = scala.collection.mutable.Set.empty[Long]
        var toScore: Seq[Long] =
          seedCells.flatMap(c => entryOf.get(c)).distinct
        var hop = 0
        while (hop <= hops) {
          for (nid <- toScore; row <- Option(graph.get(nid)))
            pool.getOrElseUpdate(nid, r4(dot(qv, row._1)))
          val frontier = pool.toSeq
            .filterNot { case (nid, _) => expanded.contains(nid) }
            .sortBy { case (nid, sim) => (-sim, nid) }.take(beam).map(_._1)
          expanded ++= frontier
          toScore = frontier.flatMap(n => Option(graph.get(n))).flatMap(_._2)
            .filterNot(pool.contains).distinct
          hop += 1
        }
        pool.toSeq.sortBy { case (nid, sim) => (-sim, nid) }.take(k)
          .zipWithIndex.map { case ((nid, sim), i) =>
            (qid, (i + 1).toLong, nid, sim) }
      }.toDF("qid", "rank", "nid", "sim")
  }

  /** The qid-keyed distributed walk — the past-the-broadcast-budget
    * route of [[searchGraphBatch]] (unchanged semantics; see the
    * Scaladoc above it). `g` is the persisted resolved graph frame. */
  private[graft] def searchGraphBatchJoins(spark: SparkSession, indexPath: String,
      queries: DataFrame, g: DataFrame,
      beam: Int = GraphBeam, hops: Int = GraphHops, k: Int = 5): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val qz = cachedGraphQuantizer(spark, indexPath)
    val entries = cachedEntries(spark, indexPath)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    // normalized query frame — the serving contract (raw vectors in;
    // zero-norm vectors pass through unscaled, like the driver walk)
    val qn = queries
      .select(col("qid").cast("long").as("qid"),
        col("qemb").cast("array<double>").as("q0"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("q0"), col("q0"))))
      .select(col("qid"),
        when(col("nrm") > 0,
          call_function("graft_vec_div", col("q0"), col("nrm")))
          .otherwise(col("q0")).as("qemb"))
      .persist(lvl)

    val edges = g.select(col("nid").as("src"),
        explode(expr("transform(nbrs, e -> e.nid)")).as("enid"))
      .persist(lvl)

    def score(cand: DataFrame): DataFrame = // (qid, nid) -> + sim
      cand.join(g.select(col("nid"), col("emb")), Seq("nid"))
        .join(qn, Seq("qid"))
        .select(col("qid"), col("nid"),
          round(call_function("graft_dot", col("qemb"), col("emb")), 4).as("sim"))

    // eager checkpoint + clean re-wrap: a bare localCheckpoint keeps
    // the ORIGIN plan's constraints on its LogicalRDD, and unioning
    // several such legs (whose constraints reference attribute ids
    // the rewritten union no longer carries) trips Union's
    // constraint-rewrite with a missing-key error. Re-wrapping the
    // materialized RDD through createDataFrame yields a constraint-
    // free leaf with fresh attributes — legs here are bounded
    // (queries × beam × degree rows of three primitives), so the one
    // extra row encode is noise next to the scoring join it fences.
    def ckpt(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true)
      spark.createDataFrame(c.rdd, c.schema)
    }

    // seeds: the two-level assignment semantics, distributed — per
    // query, top-2 supers against the broadcast √cells-sized supers
    // table, then top-GraphSeedCells cells among those supers' cells
    // (a broadcast join on sid), mapped to their entry points. The
    // second window reuses the first's qid partitioning.
    val supersDf = qz.supers.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("sid", "scent")
    val cellsDf = qz.cells.zipWithIndex
      .map { case ((sid, c), kk) => (kk, sid, c) }.toDF("cell", "sid", "cent")
    val entryDf = entries.toSeq.map { case (c, vid) => (c, vid) }
      .toDF("cell", "nid")
    val qsup = qn.crossJoin(broadcast(supersDf))
      .select(col("qid"), col("qemb"), col("sid"),
        call_function("graft_dot", col("qemb"), col("scent")).as("sdp"))
      .withColumn("srk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sdp").desc, col("sid"))))
      .filter(col("srk") <= 2).select(col("qid"), col("qemb"), col("sid"))
    val seeds = qsup.join(broadcast(cellsDf), Seq("sid"))
      .select(col("qid"), col("cell"),
        call_function("graft_dot", col("qemb"), col("cent")).as("dp"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dp").desc, col("cell"))))
      .filter(col("rk") <= GraphSeedCells)
      .join(broadcast(entryDf), Seq("cell"))
      .select(col("qid"), col("nid"))

    var pool = ckpt(score(seeds))
    // expanded starts null (round 1 has nothing to exclude) rather
    // than as a limit(0) frame: unioning an empty projection of pool
    // with checkpointed legs trips Union's constraint rewrite on the
    // recycled attribute ids
    var expanded: DataFrame = null
    var r = 1
    while (r <= hops) {
      val unexp = if (expanded == null) pool
        else pool.join(expanded, Seq("qid", "nid"), "left_anti")
      val frontier = ckpt(unexp
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))))
        .filter(col("rk") <= beam).select(col("qid"), col("nid")))
      expanded = if (expanded == null) frontier
        else expanded.unionByName(frontier)
      val cand = frontier
        .join(edges, frontier("nid") === edges("src"))
        .select(col("qid"), col("enid").as("nid")).distinct()
        .join(pool.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_anti")
      pool = pool.unionByName(ckpt(score(cand)))
      r += 1
    }
    qn.unpersist(false); edges.unpersist(false)
    pool.withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** Driver query for the distributed walk: the WHOLE corpus as the
    * query batch (the shape the driver walk's maxQueryBatch guard
    * fences off), against the shared stored graph index. */
  def annGraphBatch(spark: SparkSession, dir: String): DataFrame = {
    val idx = DerivedCache.ensure(spark, "graph", dir, Corpus)(buildGraph(spark, dir, _))
    lastStoredGraphBatch = Some(cachedGraphQuantizer(spark, idx))
    searchGraphBatch(spark, idx, Tables.embeddings(spark, dir)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb")))
  }

  @volatile private[graft] var lastStoredGraph: Option[GraphQuantizer] = None

  /** DuckDB oracle for `ann_graph_topk` — the rendered-model pattern
    * taken one level up: the stored TWO-LEVEL quantizer renders as
    * two VALUES tables (supers + cells-with-owner), and because the
    * whole BUILD is deterministic given that quantizer
    * (VectorIndexSpec pins two builds byte-equal), the oracle
    * recomputes the ENTIRE index — top-2 supers then top-2 cells per
    * vector (the exact two-level assignment), the per-cell
    * shard split (counts over the rendered membership, the same
    * ceil(cnt/target) rule), within-(cell, shard) exact-dot pairs,
    * top-degree edge lists, per-cell entry points — from the
    * embeddings table, then unrolls the fixed-round greedy beam walk
    * (GraphHops rounds of: top-beam unexpanded frontier, neighbor
    * expansion, anti-join against the pool, rounded-cosine scoring)
    * as chained CTEs. A stale stored graph (one DerivedCache failed
    * to rebuild) would surface as a loud hash mismatch, exactly like
    * the other stored indexes. Every
    * arithmetic step is the proven-parity form:
    * list_transform-normalization ≡ embNormed, list_dot_product ≡
    * graft_dot/the driver dot loop, round(.,4) ≡ the engine's
    * BigDecimal HALF_UP on bit-identical doubles, BIGINT % ≡ pmod on
    * the non-negative vec_ids. */
  private[graft] def graphOracleSql: Option[String] =
    lastStoredGraph.map(
      graphOracleSqlOf(_, s"WHERE vec_id < ${VectorQueries.QueryK}"))

  @volatile private[graft] var lastStoredGraphDel: Option[GraphQuantizer] = None

  private[graft] def graphDelOracleSql: Option[String] =
    lastStoredGraphDel.map(
      graphOracleSqlOf(_, s"WHERE vec_id < ${VectorQueries.QueryK}",
        delPred = Some(DelPredSql)))

  @volatile private[graft] var lastStoredGraphBatch: Option[GraphQuantizer] = None

  /** Oracle for `ann_graph_batch` — the SAME rendered-graph walk,
    * with the query set widened to the whole corpus (the distributed
    * serve's contract). */
  private[graft] def graphBatchOracleSql: Option[String] =
    lastStoredGraphBatch.map(graphOracleSqlOf(_, ""))

  private def superValues(supers: Seq[Seq[Double]]): String =
    supers.zipWithIndex.map { case (c, sid) =>
      s"($sid, list_value(${c.map(VectorQueries.dlit).mkString(", ")}))"
    }.mkString(",\n           ")

  private def cellValues(cells: Seq[(Int, Seq[Double])]): String =
    cells.zipWithIndex.map { case ((sid, c), kk) =>
      s"($kk, $sid, list_value(${c.map(VectorQueries.dlit).mkString(", ")}))"
    }.mkString(",\n           ")

  private[graft] def graphOracleSqlOf(qz: GraphQuantizer,
      queryFilter: String,
      shardTarget: Int = GraphShardTarget,
      delPred: Option[String] = None): String = {
      // delPred: SQL boolean over the placeholder $ID — the deletion
      // predicate of a delete-bearing index (StreamOps.deleteDocs).
      // The index DERIVATION stays over the full corpus (adjacency
      // ranks and shard splits were computed with the deleted nodes
      // competing — the stored lists keep that ranking, minus the
      // deleted rows), then the SERVED state filters: edges drop
      // both-endpoint-deleted rows AFTER the degree rank (a pruned
      // list is shorter, never re-ranked), and entry points re-rank
      // among SURVIVING primary members (cachedEntries' tombstone
      // resolution / the fold's rewrite — same rule either way).
      def delOn(c: String) = delPred.map(p =>
        " AND NOT (" + p.replace("$ID", c) + ")").getOrElse("")
      // rounds r = 1..GraphHops over ONE state relation s_r per hop:
      // (qid, nid, sim, ex) where ex marks ever-expanded pool rows —
      // pool and expanded-set fused so each hop references the
      // previous hop EXACTLY ONCE. The original three references per
      // hop (frontier rank, NOT-EXISTS pool guard, pool union) made
      // Spark's physical plan clone the whole prefix 3^hops times
      // (measured: 474 s through spark.sql at sf0.001 for the
      // topk text); the fused form is linear in hops (same rows:
      // every sim for a (qid, nid) is the SAME round(dot), so
      // collapsing duplicates by max replaces the anti-join, and
      // max(ex) preserves the expansion bookkeeping).
      //   t_r: rank unexpanded rows per query → frontier flag fr
      //   j_r: one LEFT JOIN emits each row's self-state on every
      //        output row plus its neighbor expansion when fr = 1
      //   s_r: explode {self, candidate} packed as DOUBLE triples
      //        (nid ≤ 2^32 and the 0/1 flag are double-exact),
      //        re-collapse by (qid, nid)
      val rounds = (1 to GraphHops).map { r =>
        s"""t$r AS (SELECT qid, nid, sim, ex,
                CASE WHEN ex = 0 AND rk <= $GraphBeam THEN 1 ELSE 0 END AS fr
                FROM (SELECT qid, nid, sim, ex,
                  row_number() OVER (PARTITION BY qid, ex
                    ORDER BY sim DESC, nid) AS rk
                FROM s${r - 1})),
          j$r AS (SELECT t.qid,
                list_value(CAST(t.nid AS DOUBLE), t.sim,
                  CASE WHEN t.fr = 1 THEN 1.0E0 ELSE CAST(t.ex AS DOUBLE) END)
                  AS self_p,
                CASE WHEN ed.nid IS NULL THEN NULL
                     ELSE list_value(CAST(ed.nid AS DOUBLE),
                       round(list_dot_product(q.qemb, ge.emb), 4), 0.0E0)
                END AS cand_p
                FROM t$r t
                JOIN q ON q.qid = t.qid
                LEFT JOIN edges ed ON t.fr = 1 AND ed.src = t.nid
                LEFT JOIN e ge ON ge.vec_id = ed.nid),
          s$r AS (SELECT qid, CAST(list_extract(pk, 1) AS BIGINT) AS nid,
                max(list_extract(pk, 2)) AS sim,
                CAST(max(list_extract(pk, 3)) AS INT) AS ex
                FROM (SELECT qid, unnest(list_value(self_p, cand_p)) AS pk
                      FROM j$r)
                WHERE pk IS NOT NULL
                GROUP BY 1, 2)"""
      }.mkString(",\n          ")
      s"""WITH ${VectorQueries.NormedCte},
            sup(sid, w) AS (VALUES
           ${superValues(qz.supers)}),
            cl(cid, sid, w) AS (VALUES
           ${cellValues(qz.cells)}),
            ds AS (SELECT e.vec_id, s.sid, list_dot_product(e.emb, s.w) AS dp
                  FROM e CROSS JOIN sup s),
            vs2 AS (SELECT vec_id, sid FROM (
                  SELECT vec_id, sid, row_number() OVER (PARTITION BY vec_id
                    ORDER BY dp DESC, sid) AS srk FROM ds) WHERE srk <= 2),
            d AS (SELECT s.vec_id, c.cid, list_dot_product(e.emb, c.w) AS dp
                  FROM vs2 s JOIN cl c ON c.sid = s.sid
                  JOIN e ON e.vec_id = s.vec_id),
            asg AS (SELECT vec_id, cid, dp,
                  row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cid) AS rk
                  FROM d),
            mem AS (SELECT a.vec_id, a.cid, e.emb
                  FROM asg a JOIN e USING (vec_id) WHERE a.rk <= 2),
            prim AS (SELECT vec_id, cid, dp FROM asg WHERE rk = 1),
            csh AS (SELECT cid, CASE WHEN count(*) > ${2 * shardTarget}
                    THEN CAST(ceil(count(*) / $shardTarget.0) AS BIGINT)
                    ELSE 1 END AS nsh
                  FROM mem GROUP BY cid),
            msh AS (SELECT m.vec_id, m.cid, m.emb, m.vec_id % c.nsh AS sh
                  FROM mem m JOIN csh c ON c.cid = m.cid),
            pr AS (SELECT x.vec_id AS a, y.vec_id AS b,
                  max(list_dot_product(x.emb, y.emb)) AS sim
                  FROM msh x JOIN msh y ON x.cid = y.cid AND x.sh = y.sh
                    AND x.vec_id < y.vec_id
                  GROUP BY 1, 2),
            dir AS (SELECT a AS src, b AS nid, sim FROM pr
                  UNION ALL SELECT b AS src, a AS nid, sim FROM pr),
            edges AS (SELECT src, nid FROM (
                  SELECT src, nid, row_number() OVER (PARTITION BY src
                    ORDER BY sim DESC, nid) AS rk FROM dir)
                  WHERE rk <= $GraphDegree${delOn("src")}${delOn("nid")}),
            entries AS (SELECT cid, vec_id FROM (
                  SELECT cid, vec_id, row_number() OVER (PARTITION BY cid
                    ORDER BY dp DESC, vec_id) AS rk FROM prim
                  WHERE 1 = 1${delOn("vec_id")})
                  WHERE rk = 1),
            q AS (SELECT vec_id AS qid, emb AS qemb FROM e $queryFilter),
            qs2 AS (SELECT qid, sid FROM (
                  SELECT q.qid, s.sid, row_number() OVER (PARTITION BY q.qid
                    ORDER BY list_dot_product(q.qemb, s.w) DESC, s.sid) AS rk
                  FROM q CROSS JOIN sup s) WHERE rk <= 2),
            sd AS (SELECT qid, cid FROM (
                  SELECT t.qid, c.cid, row_number() OVER (PARTITION BY t.qid
                    ORDER BY list_dot_product(q.qemb, c.w) DESC, c.cid) AS rk
                  FROM qs2 t JOIN cl c ON c.sid = t.sid
                  JOIN q ON q.qid = t.qid) WHERE rk <= $GraphSeedCells),
            s0 AS (SELECT s.qid, en.vec_id AS nid,
                  round(list_dot_product(q.qemb, ge.emb), 4) AS sim, 0 AS ex
                  FROM sd s JOIN entries en USING (cid)
                  JOIN q ON q.qid = s.qid
                  JOIN e ge ON ge.vec_id = en.vec_id),
          $rounds
         SELECT qid, rank, nid, sim FROM (
           SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
             ORDER BY sim DESC, nid) AS rank
           FROM s$GraphHops) WHERE rank <= 5"""
    }
}
