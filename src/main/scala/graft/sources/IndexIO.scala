package graft.sources

import org.apache.spark.sql.SparkSession

import graft.similarity.{IvfKnn, OpqKnn, PqKnn}

/** Persistence for the engine's bounded index artifacts — the other half
  * of the fit-once-search-many contract: at 100 TB an IVF/PQ quantizer or
  * a snapshot Bloom filter is trained ONCE (hours of sampling amortized
  * across months of queries) and every subsequent batch, stream, or
  * cluster restart loads it instead of refitting. Artifacts are written
  * as plain parquet (row-per-centroid / row-per-codeword / single-row
  * blob), so they are versionable, inspectable with any engine, and
  * readable from a different Spark application than the one that fit
  * them. All artifacts are bounded by construction (k × dim floats, m ×
  * ksub codewords, ~1 byte per snapshot item) — driver-side collect on
  * load is the same justified read as the original fit.
  */
object IndexIO {

  /** IVF coarse quantizer: one row per (cell, dim position). */
  def saveIvf(spark: SparkSession, index: IvfKnn.IvfIndex, path: String): Unit = {
    import spark.implicits._
    index.centroids.zipWithIndex
      .flatMap { case (c, i) => c.zipWithIndex.map { case (x, j) => (i, j, x) } }
      .toSeq.toDF("cell", "pos", "x")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadIvf(spark: SparkSession, path: String): IvfKnn.IvfIndex = {
    val rows = ParquetSource.read(spark, path)
      .select("cell", "pos", "x").collect()
    val cells = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).map(_.getFloat(2))
    }
    IvfKnn.IvfIndex(cells.toArray)
  }

  /** PQ codebooks: one row per (subspace, codeword, dim position). */
  def savePq(spark: SparkSession, index: PqKnn.PqIndex, path: String): Unit = {
    import spark.implicits._
    val rows = for {
      (book, m) <- index.codebooks.zipWithIndex
      (code, k) <- book.zipWithIndex
      (x, j) <- code.zipWithIndex
    } yield (m, k, j, x, index.dim)
    rows.toSeq.toDF("sub", "code", "pos", "x", "dim")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadPq(spark: SparkSession, path: String): PqKnn.PqIndex = {
    val rows = ParquetSource.read(spark, path)
      .select("sub", "code", "pos", "x", "dim").collect()
    val dim = rows.head.getInt(4)
    val books = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, subRows) =>
      subRows.groupBy(_.getInt(1)).toSeq.sortBy(_._1).map { case (_, codeRows) =>
        codeRows.sortBy(_.getInt(2)).map(_.getFloat(3))
      }.toArray
    }.toArray
    PqKnn.PqIndex(books, dim)
  }

  /** OPQ = rotation matrix + PQ codebooks, stored side by side. */
  def saveOpq(spark: SparkSession, index: OpqKnn.OpqIndex, path: String): Unit = {
    import spark.implicits._
    index.rotation.zipWithIndex
      .flatMap { case (row, i) => row.zipWithIndex.map { case (x, j) => (i, j, x) } }
      .toSeq.toDF("row", "pos", "x")
      .repartition(1).write.mode("overwrite").parquet(s"$path/rotation")
    savePq(spark, index.pq, s"$path/pq")
  }

  def loadOpq(spark: SparkSession, path: String): OpqKnn.OpqIndex = {
    val rows = ParquetSource.read(spark, s"$path/rotation")
      .select("row", "pos", "x").collect()
    val rotation = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).map(_.getFloat(2))
    }.toArray
    OpqKnn.OpqIndex(rotation, loadPq(spark, s"$path/pq"))
  }

  /** Snapshot Bloom filter (or any bounded binary artifact): single-row
    * blob with its build parameters for auditability.
    */
  def saveBloom(spark: SparkSession, filter: Array[Byte], path: String,
                expectedItems: Long, fpp: Double): Unit = {
    import spark.implicits._
    Seq((filter, expectedItems, fpp))
      .toDF("filter", "expected_items", "fpp")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadBloom(spark: SparkSession, path: String): Array[Byte] =
    ParquetSource.read(spark, path).select("filter").head().getAs[Array[Byte]](0)

  /** Sorted eval-gram set (the decontamination probe's haystack). */
  def saveGrams(spark: SparkSession, grams: Array[Long], path: String): Unit = {
    import spark.implicits._
    grams.toSeq.toDF("g").repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadGrams(spark: SparkSession, path: String): Array[Long] =
    ParquetSource.read(spark, path).select("g").collect().map(_.getLong(0)).sorted

  /** A trained BPE merge table — the tokenizer itself: one row per rank,
    * rank order IS merge priority ([[graft.functions.BpeEncodeCount]]
    * consumes it verbatim).
    */
  def saveBpe(spark: SparkSession, merges: Seq[(String, String)], path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left", "right")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadBpe(spark: SparkSession, path: String): Seq[(String, String)] =
    ParquetSource.read(spark, path).select("rank", "left", "right").collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq

  /** The SQ8 code table — the corpus-sized compressed index COLUMN (one
    * array<byte> per vector, 4× smaller than the floats) plus the
    * fixed-point grid scale it was quantized at. Unlike the fitted
    * artifacts above this is NOT driver-bounded: it persists as a
    * distributed parquet table and loads as one; only the 1-row scale
    * blob transits the driver. A searcher that loads codes quantized at
    * a different scale than its queries returns garbage distances, so
    * the scale rides WITH the table, never as out-of-band config — and
    * the quantization happens HERE (ADVICE r15): callers hand over the
    * float vectors, not pre-quantized codes, so the persisted scale_bits
    * is by construction the one the codes were produced at.
    *
    * `vectors` must carry exactly the columns `vec_id` and `embedding`
    * (array&lt;float&gt;) — the engine's canonical vector-table schema; a
    * differently-named vector column fails analysis here, at the save
    * boundary, not at some later probe (ADVICE r16).
    */
  def saveSq8(spark: SparkSession, vectors: org.apache.spark.sql.DataFrame,
              scaleBits: Int, path: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    vectors.select(col("vec_id"),
        graft.functions.VecOps.sq8F(col("embedding"), scaleBits).as("code"))
      .write.mode("overwrite").parquet(s"$path/codes")
    Seq(scaleBits).toDF("scale_bits")
      .repartition(1).write.mode("overwrite").parquet(s"$path/scale")
  }

  def loadSq8(spark: SparkSession, path: String): (org.apache.spark.sql.DataFrame, Int) = {
    val bits = ParquetSource.read(spark, s"$path/scale")
      .select("scale_bits").collect()(0).getInt(0)
    (ParquetSource.read(spark, s"$path/codes").select("vec_id", "code"), bits)
  }

  /** The FULL IVF+SQ8 index — coarse codebook, grid scale, and the
    * cell-partitioned posting table (vec_id, cell, code) — persisted as
    * one artifact tree. Assignment and quantization both happen HERE,
    * from the float vectors: the persisted cells can never disagree with
    * the persisted codebook, nor the codes with scale_bits (the saveSq8
    * binding discipline, applied to the composite index). The posting
    * table stays distributed and is laid out `cell=.../` so a probe-time
    * reader partition-prunes to exactly the probed cells; only the
    * codebook (k × dim floats) and the 1-row scale transit the driver.
    * `vectors` must carry exactly (`vec_id`, `embedding`: array&lt;float&gt;),
    * the [[saveSq8]] contract.
    */
  def saveIvfSq8(spark: SparkSession, vectors: org.apache.spark.sql.DataFrame,
                 codebook: IvfKnn.IvfIndex, scaleBits: Int, path: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    saveIvf(spark, codebook, s"$path/codebook")
    vectors.select(col("vec_id"),
        IvfKnn.nearestCells(col("embedding"), codebook, 1)
          .getItem(0).cast("long").as("cell"),
        graft.functions.VecOps.sq8F(col("embedding"), scaleBits).as("code"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/postings")
    Seq(scaleBits).toDF("scale_bits")
      .repartition(1).write.mode("overwrite").parquet(s"$path/scale")
  }

  def loadIvfSq8(spark: SparkSession, path: String)
      : (org.apache.spark.sql.DataFrame, IvfKnn.IvfIndex, Int) = {
    import org.apache.spark.sql.functions.col
    val bits = ParquetSource.read(spark, s"$path/scale")
      .select("scale_bits").collect()(0).getInt(0)
    val postings = ParquetSource.read(spark, s"$path/postings")
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("code"))
    (postings, loadIvf(spark, s"$path/codebook"), bits)
  }

  /** The FULL navigable-graph ANN index — coarse codebook, grid scale,
    * graph degree, the cell-partitioned node table (vec_id, cell, code)
    * and the cell-partitioned edge table (src, dst, dist, cell) — as one
    * artifact tree:
    *
    * {{{
    * path/codebook   k × dim coarse centroids (saveIvf layout)
    * path/meta       1 row: (scale_bits, m) — the parameters the codes
    *                 and edges were built at, riding WITH the artifact
    * path/nodes      cell=…/ partitioned (vec_id, code)
    * path/edges      cell=…/ partitioned (src, dst, dist)
    * }}}
    *
    * Assignment, quantization AND edge selection all happen HERE, from
    * the float vectors (the saveIvfSq8 binding discipline): the persisted
    * edges can never disagree with the persisted codes, nor the codes
    * with scale_bits. Edges are intra-cell by construction, so both
    * tables partition on the same key and a serving reader
    * partition-prunes nodes and edges to the cells it traverses. The edge
    * build runs through [[graft.similarity.GraphKnn.coCellGraph]]'s
    * bounded (hot-cell-tiled) pair enumeration. `vectors` must carry
    * exactly (`vec_id`, `embedding`: array&lt;float&gt;), the [[saveSq8]]
    * contract.
    */
  def saveGraph(spark: SparkSession, vectors: org.apache.spark.sql.DataFrame,
                codebook: IvfKnn.IvfIndex, scaleBits: Int, m: Int,
                path: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    saveIvf(spark, codebook, s"$path/codebook")
    val assigned = graft.CachePool.persist(vectors.select(col("vec_id"),
      IvfKnn.nearestCells(col("embedding"), codebook, 1)
        .getItem(0).cast("long").as("cell"),
      graft.functions.VecOps.sq8F(col("embedding"), scaleBits).as("code")))
    assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$path/nodes")
    // edges carry src's cell (== dst's: edges are intra-cell) for the
    // partitioned layout; the join back to assigned is an equi-join on the
    // already-persisted frame
    graft.similarity.GraphKnn.coCellGraph(assigned, m)
      .join(assigned.select(col("vec_id").as("src"), col("cell")), Seq("src"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/edges")
    graft.CachePool.release(assigned)
    Seq((scaleBits, m)).toDF("scale_bits", "m")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
    // a fresh build resets the delete log: leftover tombstones from a
    // previous artifact at this path must not shadow the new corpus
    val ts = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    ts.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ts, true): Unit
  }

  /** Loads the [[saveGraph]] artifact: (nodes, edges, codebook,
    * scale_bits, m). Both tables stay distributed; only the codebook and
    * the 1-row meta transit the driver.
    */
  /** Path of the in-flight-maintenance marker: [[appendGraph]] and
    * [[deleteFromGraph]] mutate the artifact with more than one write
    * (edges overwrite, node append/overwrite, dir vacuums), so a crash
    * mid-run leaves nodes and edges disagreeing. The marker is written
    * BEFORE the first mutating write and removed after the last, making
    * the torn state detectable: [[loadGraph]] refuses an artifact whose
    * marker is still present (ADVICE r17). Creation and deletion are
    * each single FS metadata operations — atomic on the filesystems the
    * artifact targets.
    */
  private def graphPendingMarker(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_MAINTENANCE_PENDING")

  /** Refuses to START a maintenance op on an artifact whose previous
    * maintenance run tore (marker still present). Without this gate a
    * LATER mutating op would overwrite the marker, complete its own
    * writes, and remove it — loadGraph would then accept an artifact
    * whose earlier tear was never repaired, silently laundering exactly
    * the state the marker exists to detect (ADVICE r18). Called BEFORE
    * any read that feeds the op's writes, because those reads already
    * see the torn tree.
    */
  private def requireNoPendingMarker(
      spark: SparkSession, path: String, op: String): Unit = {
    val marker = graphPendingMarker(path)
    require(!marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(marker),
      s"graph artifact at $path has an unfinished maintenance run " +
        s"(_MAINTENANCE_PENDING present) — refusing to start '$op': nodes " +
        "and edges may disagree; rebuild with saveGraph or restore a " +
        "cloneGraph snapshot over this path")
  }

  /** Test-only fault-injection hook: invoked at named points between a
    * maintenance op's writes (e.g. `"append:between-writes"`). A spec
    * swaps in a throwing hook to simulate a crash INSIDE the
    * marker-guarded window and then proves the torn artifact is refused
    * by loadGraph and recoverable by restoring a [[cloneGraph]]
    * snapshot. Production value is the no-op.
    */
  private[graft] var faultHook: String => Unit = _ => ()

  private def withGraphMaintenanceMarker(
      spark: SparkSession, path: String, op: String)(body: => Unit): Unit = {
    val marker = graphPendingMarker(path)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(marker, true)
    try out.write(s"$op ${System.nanoTime()}\n".getBytes("UTF-8"))
    finally out.close()
    body
    // reached only on success: a throw above leaves the marker in place,
    // which is exactly the detectable-torn-state contract
    fs.delete(marker, false): Unit
  }

  def loadGraph(spark: SparkSession, path: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         IvfKnn.IvfIndex, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val marker = graphPendingMarker(path)
    require(!marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(marker),
      s"graph artifact at $path has an unfinished maintenance run " +
        "(_MAINTENANCE_PENDING present): nodes and edges may disagree — " +
        "rebuild with saveGraph or restore from a known-good copy")
    val meta = ParquetSource.read(spark, s"$path/meta").select("scale_bits", "m").collect()(0)
    val nodes = ParquetSource.read(spark, s"$path/nodes")
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("code"))
    val edges = ParquetSource.read(spark, s"$path/edges")
      .select(col("src"), col("dst"), col("dist"), col("cell").cast("long").as("cell"))
    (nodes, edges, loadIvf(spark, s"$path/codebook"), meta.getInt(0), meta.getInt(1))
  }

  /** Inserts a later batch into a persisted [[saveGraph]] artifact WITHOUT
    * a full rebuild — the nightly maintenance path: assign + encode the
    * new vectors at the artifact's OWN loaded codebook and scale (they
    * cannot drift from the resident nodes), then refresh the co-cell
    * edges of TOUCHED cells only. Because edges are strictly intra-cell,
    * recomputing a touched cell from its full (resident + new) membership
    * reproduces exactly what a from-scratch rebuild would emit for that
    * cell, and untouched cells are byte-identical by not being rewritten —
    * so the merged artifact EQUALS the full rebuild while the write is
    * proportional to the touched slice: new node rows append into their
    * cell partitions, refreshed edges land by dynamic partition overwrite
    * (only touched `cell=…` dirs are replaced), and resident node reads
    * partition-prune to the touched cells.
    *
    * Ids already resident in the index are IGNORED (anti-join on the
    * column-pruned id scan — ADVICE r17): re-appending is idempotent, it
    * can never duplicate node rows or inflate a cell's membership. The
    * mutating writes run under the [[graphPendingMarker]] torn-state
    * marker; a crash mid-append is detected by the next [[loadGraph]].
    */
  def appendGraph(spark: SparkSession,
                  newVectors: org.apache.spark.sql.DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions.col
    requireNoPendingMarker(spark, path, "append")
    val meta = ParquetSource.read(spark, s"$path/meta").select("scale_bits", "m").collect()(0)
    val (scaleBits, m) = (meta.getInt(0), meta.getInt(1))
    val codebook = loadIvf(spark, s"$path/codebook")
    // ids already RESIDENT are dropped (anti-join on the column-pruned id
    // scan): re-appending a resident id would duplicate its node rows and
    // compute the refreshed edges over the duplicated membership, silently
    // breaking the merged-equals-rebuild contract (ADVICE r17). The
    // filtered frame is pinned via localCheckpoint BEFORE any write: its
    // plan reads path/nodes, which the node append below mutates — an
    // unpinned plan would re-list the half-mutated dir.
    val newNodes = newVectors.select(col("vec_id"),
        IvfKnn.nearestCells(col("embedding"), codebook, 1)
          .getItem(0).cast("long").as("cell"),
        graft.functions.VecOps.sq8F(col("embedding"), scaleBits).as("code"))
      .join(ParquetSource.read(spark, s"$path/nodes").select(col("vec_id")),
        Seq("vec_id"), "left_anti")
      .transform(graft.CachePool.pinCheckpoint)
    // the touched-cell set is bounded by nlist — the same justified
    // driver read as the codebook itself
    val touched = newNodes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    if (touched.isEmpty) { // every id already resident: idempotent no-op
      graft.CachePool.releaseCheckpoint(newNodes)
      return
    }
    val resident = ParquetSource.read(spark, s"$path/nodes")
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("code"))
      .filter(col("cell").isin(touched: _*)) // partition-pruned read
    // the touched-cell MEMBERSHIP (resident + new) is pinned in cache and
    // materialized BEFORE any write mutates the node tree it was read
    // from — the refreshed edges and their cell labels both derive from
    // this frozen frame, never from a re-listing of a half-mutated dir
    val members = graft.CachePool.persist(resident.unionByName(newNodes))
    members.count(): Unit
    val refreshed = graft.CachePool.persist(
      graft.similarity.GraphKnn.coCellGraph(members, m)
        .join(members.select(col("vec_id").as("src"), col("cell")), Seq("src")))
    refreshed.count(): Unit
    // the edge overwrite MUST land before the node append: writing into
    // path/nodes recache-invalidates every cached frame that reads it
    // (members, and refreshed through it), and the lazily re-materialized
    // plan would re-list the dir WITH the appended rows — the new nodes
    // counted twice, duplicate pair rows crowding the top-m window. With
    // the edges already on disk, nothing derives from path/nodes when it
    // mutates.
    withGraphMaintenanceMarker(spark, path, "append") {
      val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        refreshed.write.mode("overwrite").partitionBy("cell").parquet(s"$path/edges")
      } finally {
        prevMode match {
          case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      }
      faultHook("append:between-writes")
      newNodes.write.mode("append").partitionBy("cell").parquet(s"$path/nodes")
    }
    graft.CachePool.release(refreshed)
    graft.CachePool.release(members)
    // the checkpointed new-node blocks are not reachable from any live
    // plan once the writes landed; without the explicit unpersist they
    // linger in the block manager until RDD GC (ADVICE r18)
    graft.CachePool.releaseCheckpoint(newNodes)
  }

  /** Deletes vectors from a persisted [[saveGraph]] artifact WITHOUT a
    * full rebuild — the other half of the nightly maintenance story
    * beside [[appendGraph]] (GDPR erasure, retraction, TTL expiry): drop
    * the deleted node rows and refresh the co-cell edges of TOUCHED cells
    * only, from the surviving membership. Edges are strictly intra-cell —
    * a deleted node's edges live only in its own cell — so the result
    * EQUALS [[saveGraph]] over the surviving vectors while the write is
    * proportional to the touched slice (dynamic partition overwrite;
    * untouched cells keep their bytes).
    *
    * A touched cell whose members are ALL deleted produces no survivor
    * rows, and dynamic overwrite only replaces partitions PRESENT in the
    * written data — so fully-emptied cells are reconciled explicitly: their
    * `cell=…` dirs are deleted from both tables (the vacuum discipline).
    *
    * `ids` carries one `vec_id` column; ids absent from the index are
    * ignored. The surviving membership of touched cells is pinned via
    * localCheckpoint before any write: the node rewrite reads the same
    * path it overwrites, and a plan still rooted at that file relation
    * would either fail the self-overwrite check or re-list mid-mutation.
    */
  def deleteFromGraph(spark: SparkSession,
                      ids: org.apache.spark.sql.DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions.col
    requireNoPendingMarker(spark, path, "delete")
    val m = ParquetSource.read(spark, s"$path/meta").select("m").collect()(0).getInt(0)
    val nodes = ParquetSource.read(spark, s"$path/nodes")
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("code"))
    val del = ids.select(col("vec_id"))
    // touched cells: bounded by nlist, the same justified driver read as
    // the codebook
    val touched = nodes.join(del, Seq("vec_id"), "left_semi")
      .select("cell").distinct().collect().map(_.getLong(0)).sorted
    if (touched.isEmpty) return
    val survivors = nodes.filter(col("cell").isin(touched: _*))
      .join(del, Seq("vec_id"), "left_anti")
      .transform(graft.CachePool.pinCheckpoint)
    val refreshed = graft.CachePool.persist(
      graft.similarity.GraphKnn.coCellGraph(survivors, m)
        .join(survivors.select(col("vec_id").as("src"), col("cell")), Seq("src")))
    refreshed.count(): Unit
    // alive sets come from the checkpointed/persisted frames, bounded by
    // nlist — computed BEFORE the writes so the vacuum below never reads
    // a mutated dir
    val nodeAlive = survivors.select("cell").distinct()
      .collect().map(_.getLong(0)).toSet
    val edgeAlive = refreshed.select("cell").distinct()
      .collect().map(_.getLong(0)).toSet
    withGraphMaintenanceMarker(spark, path, "delete") {
      val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        refreshed.write.mode("overwrite").partitionBy("cell").parquet(s"$path/edges")
        faultHook("delete:between-writes")
        survivors.write.mode("overwrite").partitionBy("cell").parquet(s"$path/nodes")
      } finally {
        prevMode match {
          case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      }
      // reconcile touched cells the writes could not clear: a cell with NO
      // survivors wrote no node partition, and a cell with FEWER THAN TWO
      // survivors forms no pairs and wrote no edge partition — dynamic
      // overwrite only replaces partitions present in the data, so the
      // stale dirs are removed directly (the vacuum discipline). The
      // vacuum is part of the marker-guarded mutation: a crash between
      // the overwrite and the vacuum is a torn state like any other.
      val hconf = spark.sparkContext.hadoopConfiguration
      def drop(table: String, cell: Long): Unit = {
        val p = new org.apache.hadoop.fs.Path(s"$path/$table/cell=$cell")
        p.getFileSystem(hconf).delete(p, true): Unit
      }
      touched.filterNot(nodeAlive).foreach(drop("nodes", _))
      touched.filterNot(edgeAlive).foreach(drop("edges", _))
    }
    graft.CachePool.release(refreshed)
    graft.CachePool.releaseCheckpoint(survivors)
  }

  /** Hardlink-clones a [[saveGraph]] artifact tree — the snapshot a
    * maintenance pipeline takes before destructive surgery, and the
    * cheap way a derived index starts from a shared base. Parquet files
    * are write-once, so hardlinked bytes can never diverge; partition
    * overwrite and vacuum in the clone UNLINK files (the source keeps
    * its inodes) and appends create new files, so no mutation path
    * reaches the source through the clone. `dst` is cleared first, so a
    * half-cloned casualty of an interrupted run cannot survive into the
    * next call; cross-device paths degrade to a plain copy. Refuses a
    * torn source (pending-marker present).
    *
    * LOCAL FILESYSTEM ONLY (ADVICE r18): the walk runs through java.nio,
    * so an `hdfs://` or `s3://` artifact that the other IndexIO ops
    * handle through the Hadoop FileSystem API is out of scope here — on
    * such a URI the existence require below fails (there is no local
    * path by that name), it does not half-copy. Snapshotting a remote
    * artifact is the storage layer's job (HDFS snapshots, S3 versioning,
    * table-format time travel); the inode-sharing trick this op exists
    * for has no remote equivalent.
    */
  def cloneGraph(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val s = Paths.get(src)
    require(Files.exists(s), s"cloneGraph: no artifact at $src")
    require(!Files.exists(s.resolve("_MAINTENANCE_PENDING")),
      s"cloneGraph: source $src has an unfinished maintenance run")
    val d = Paths.get(dst)
    def rmTree(p: Path): Unit = if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.delete(q))
      finally st.close()
    }
    rmTree(d)
    val st = Files.walk(s)
    try st.forEach { p =>
      val q = d.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else {
        Files.createDirectories(q.getParent)
        try Files.createLink(q, p)
        catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            Files.copy(p, q): Unit
        }
      }
    } finally st.close()
  }

  /** Marks vectors DELETED in a persisted [[saveGraph]] artifact WITHOUT
    * touching nodes or edges — the merge-on-read half of erasure (the
    * position-delete-file idiom of table formats, applied to the vector
    * index): ids append to `path/tombstones`, an O(ids) single write, no
    * edge recomputation, no marker needed. Serving applies the log via
    * [[loadGraphMor]]; [[compactGraph]] physicalizes it. Ids absent from
    * the index — or tombstoned twice — are harmless: every consumer
    * reads the log through semi/anti-join semantics, which are
    * duplicate- and miss-tolerant.
    */
  def tombstoneGraph(spark: SparkSession,
                     ids: org.apache.spark.sql.DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions.col
    ids.select(col("vec_id")).write.mode("append").parquet(s"$path/tombstones")
  }

  /** Loads a [[saveGraph]] artifact with its tombstone log MERGED ON
    * READ: tombstoned node rows are dropped, and the edges of TOUCHED
    * cells (the only cells a tombstone can affect — edges are strictly
    * intra-cell) are recomputed in memory from the surviving membership.
    * By the same intra-cell argument [[appendGraph]] and
    * [[deleteFromGraph]] rest on, the returned (nodes, edges) EQUAL what
    * [[loadGraph]] returns after [[compactGraph]] — bit for bit — so a
    * server can keep absorbing O(ids) tombstone writes and defer the
    * partition rewrites to one amortized compaction. Read cost is
    * proportional to the touched slice: untouched cells' edges stream
    * straight from parquet, partition-pruned.
    */
  def loadGraphMor(spark: SparkSession, path: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         IvfKnn.IvfIndex, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val (nodes, edges, cb, bits, m) = loadGraph(spark, path)
    val tsPath = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = tsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tsPath)) return (nodes, edges, cb, bits, m)
    val ts = ParquetSource.read(spark, s"$path/tombstones").select(col("vec_id"))
    // touched cells: bounded by nlist, the justified driver read
    val touched = nodes.join(ts, Seq("vec_id"), "left_semi")
      .select("cell").distinct().collect().map(_.getLong(0)).sorted
    if (touched.isEmpty) return (nodes, edges, cb, bits, m)
    val survivors = nodes.join(ts, Seq("vec_id"), "left_anti")
    val touchedSurv = survivors.filter(col("cell").isin(touched: _*))
    val refreshed = graft.similarity.GraphKnn.coCellGraph(touchedSurv, m)
      .join(touchedSurv.select(col("vec_id").as("src"), col("cell")), Seq("src"))
    val merged = edges.filter(!col("cell").isin(touched: _*))
      .unionByName(refreshed.select("src", "dst", "dist", "cell"))
    (survivors, merged, cb, bits, m)
  }

  /** Physically applies the tombstone log — the copy-on-write half that
    * [[loadGraphMor]] defers: [[deleteFromGraph]] over the tombstoned
    * ids (touched-cell partition rewrites under the maintenance marker),
    * then the log is cleared. The artifact shrinks to exactly the
    * survivor rebuild, and a subsequent [[loadGraph]] equals the
    * pre-compaction [[loadGraphMor]] view. A crash AFTER the delete but
    * before the clear is benign, not torn: the surviving tombstones
    * reference absent ids, which every consumer ignores.
    */
  def compactGraph(spark: SparkSession, path: String): Unit = {
    import org.apache.spark.sql.functions.col
    val tsPath = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = tsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tsPath)) return
    deleteFromGraph(spark,
      ParquetSource.read(spark, s"$path/tombstones").select(col("vec_id")), path)
    fs.delete(tsPath, true): Unit
  }

  /** A trained quality-classifier model: one row per non-zero weight plus
    * a bias row at index −1 (sparse — junk-signal models are mostly
    * zeros), with the bucket count for shape recovery.
    */
  def saveClassifier(spark: SparkSession,
                     model: graft.text.QualityClassifier.Model, path: String): Unit = {
    import spark.implicits._
    val rows = (-1, model.bias, model.buckets) +:
      model.w.zipWithIndex.collect { case (x, b) if x != 0.0 => (b, x, model.buckets) }.toSeq
    rows.toDF("b", "x", "buckets")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadClassifier(spark: SparkSession, path: String): graft.text.QualityClassifier.Model = {
    val rows = ParquetSource.read(spark, path).select("b", "x", "buckets").collect()
    val buckets = rows.head.getInt(2)
    val w = new Array[Double](buckets)
    var bias = 0.0
    rows.foreach { r =>
      val b = r.getInt(0)
      if (b < 0) bias = r.getDouble(1) else w(b) = r.getDouble(1)
    }
    graft.text.QualityClassifier.Model(buckets, bias, w)
  }
}
