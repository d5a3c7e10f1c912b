package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{GraphOps, PropertyGraph}

/** Loaders for the reference's three text graph formats (SURVEY.md §2.1
  * O1/O4/O5/O6, FIXTURES.md §A). All are thin declarative pipelines over
  * `spark.read.text` — Spark's FileScan already does byte-range parallel
  * ingestion with line realignment, which is the entire point of the
  * reference's 275-line manual reader (`/root/reference/graph.h:274-549`);
  * none of its separator-discovery/owner-lookup machinery is needed.
  */
object GraphLoaders {

  /** Comment prefixes the reference skips: `#`, `%`, `c`
    * (`/root/reference/partition.h:368-396`). */
  private def isComment(c: org.apache.spark.sql.Column) =
    c.startsWith("#") || c.startsWith("%") || c.startsWith("c") || trim(c) === ""

  /** A1: edge-list format — one `src dst [weight]` pair per line; optional
    * header lines carry a single count token each and are dropped; a
    * 0-based file is renumbered +1 like the reference
    * (`/root/reference/partition.h:435-437`). Ids absent from the edge
    * list are back-filled as isolated vertices so the id space stays
    * dense 1..max — the reference's gap-fill behavior
    * (`partition.h:628-642`; e.g. rdsmall.graph declares 12 vertices but
    * vertex 11 appears in no edge). */
  def edgeList(spark: SparkSession, path: String,
               renumberZeroBased: Boolean = true): PropertyGraph = {
    val toks = spark.read.text(path)
      .where(!isComment(col("value")))
      .select(split(trim(col("value")), "\\s+").as("t"))
      .where(size(col("t")) >= 2) // single-token lines = header counts
      .select(
        element_at(col("t"), 1).cast("long").as("src"),
        element_at(col("t"), 2).cast("long").as("dst"),
        coalesce(try_element_at(col("t"), lit(3)).cast("double"), lit(1.0)).as("weight"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val edges =
      if (renumberZeroBased) {
        val minId = toks.agg(least(min(col("src")), min(col("dst")))).first().getLong(0)
        if (minId == 0L)
          toks.select((col("src") + 1).as("src"), (col("dst") + 1).as("dst"), col("weight"))
        else toks
      } else toks
    val maxId = edges.agg(greatest(max(col("src")), max(col("dst")))).first().getLong(0)
    PropertyGraph(spark.range(1, maxId + 1).select(col("id")), edges)
  }

  /** A2: METIS adjacency format — header `nvtxs nedges`, line i (1-based)
    * lists the neighbors of vertex i. Line position IS the vertex id, so
    * this needs an order-preserving indexed read: the one genuinely
    * imperative per-partition step in the loaders (RDD zipWithIndex —
    * constant extra pass, preserves scale-out). */
  def metisAdjacency(spark: SparkSession, path: String): PropertyGraph = {
    import spark.implicits._
    val indexed = spark.sparkContext.textFile(path)
      .zipWithIndex()
      .filter { case (line, _) =>
        val t = line.trim
        t.nonEmpty && !t.startsWith("#") && !t.startsWith("%")
      }
      .map { case (line, idx) => (idx, line.trim) }
      .toDF("lineno", "line")
    // lineno 0 = header; vertex id = lineno (1-based line = vertex 1).
    val edges = indexed.where(col("lineno") > 0)
      .select(col("lineno").as("src"),
        explode(split(col("line"), "\\s+")).as("nbr"))
      .where(col("nbr") =!= "")
      .select(col("src"), col("nbr").cast("long").as("dst"), lit(1.0).as("weight"))
    // vertex set from the header's nvtxs (isolated vertices included — the
    // reference's gap-fill behavior, partition.h:628-642)
    val nvtxs = indexed.where(col("lineno") === 0)
      .select(split(col("line"), "\\s+").getItem(0).cast("long")).first().getLong(0)
    val vertices = spark.range(1, nvtxs + 1).select(col("id"))
    PropertyGraph(vertices, edges)
  }

  /** A3: pre-partitioned METIS subgraph format (`*.subgraph.N`) — header
    * `nvtxs nedges fmt [ncon]`; row = `[vid] [vwgt×ncon] (nbr [nbrloc]
    * [ewgt])*`. The 4-digit fmt mask is decoded from the header exactly
    * like the reference (`/root/reference/graph.h:592-597`,
    * `sprintf("%04zu", fmt)`): digit 0 = vertex-id column ("sizes" reused
    * as the vid, `graph.h:655-659`), digit 1 = vertex weights (× ncon),
    * digit 2 = edge weights, digit 3 = per-edge owner partition — and the
    * per-edge column order is nbr, loc, weight (`graph.h:677-698`: the
    * loc read precedes the vals read). When the vid column is absent the
    * vertex id is the 1-based row position, same convention as
    * [[metisAdjacency]]. The `Option` flags override individual digits
    * (None = trust the header). `nbrloc` is surfaced as `dst_part` for
    * inspection but plays no role in placement — Spark's shuffle owns
    * that (SURVEY.md §1.2). */
  def metisSubgraph(spark: SparkSession, path: String,
                    hasVertexId: Option[Boolean] = None,
                    hasVertexWeight: Option[Boolean] = None,
                    hasEdgeWeight: Option[Boolean] = None,
                    hasEdgeLoc: Option[Boolean] = None): PropertyGraph = {
    // The header is line 1 (the reference reads it first, graph.h:569-599);
    // line order must survive the read → indexed RDD pass.
    import spark.implicits._
    val indexed = spark.sparkContext.textFile(path)
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#") && !l.startsWith("%"))
      .zipWithIndex()
      .map { case (l, i) => (i, l.split("\\s+").toSeq) }
      .toDF("lineno", "t")
    val header = indexed.where(col("lineno") === 0)
      .select(col("t")).first().getSeq[String](0)
    val fmt = if (header.size >= 3) header(2).toInt else 0
    require(fmt <= 1111, s"Cannot read this type of file format $fmt") // graph.h:590
    val nconHdr = if (header.size >= 4) header(3).toInt else 0
    val ncon = if (nconHdr == 0) 1 else nconHdr // graph.h:599
    val readVid = hasVertexId.getOrElse(fmt / 1000 % 10 == 1)
    val readWgts = hasVertexWeight.getOrElse(fmt / 100 % 10 == 1)
    val readVals = hasEdgeWeight.getOrElse(fmt / 10 % 10 == 1)
    val readLoc = hasEdgeLoc.getOrElse(fmt % 10 == 1)
    val vOff = (if (readVid) 1 else 0) + (if (readWgts) ncon else 0)
    val stride = 1 + (if (readLoc) 1 else 0) + (if (readVals) 1 else 0)
    val wSlot = if (readLoc) 3 else 2
    val data = indexed.where(col("lineno") > 0)
    val idCol =
      if (readVid) element_at(col("t"), 1).cast("long") else col("lineno").cast("long")
    val vertices = data.select(idCol.as("id"),
      (if (readWgts) element_at(col("t"), if (readVid) 2 else 1).cast("double")
       else lit(1.0)).as("vweight"))
    val edges = data.select(idCol.as("src"),
        slice(col("t"), lit(vOff + 1), greatest(size(col("t")) - vOff, lit(0))).as("rest"))
      .where(size(col("rest")) >= stride)
      .select(col("src"), explode(transform(
        sequence(lit(0), (size(col("rest")) / stride).cast("int") - 1), g => struct(
          element_at(col("rest"), g * stride + 1).cast("long").as("dst"),
          (if (readLoc) element_at(col("rest"), g * stride + 2).cast("int")
           else lit(null).cast("int")).as("dst_part"),
          (if (readVals) element_at(col("rest"), g * stride + wSlot).cast("double")
           else lit(1.0)).as("weight")))).as("e"))
      .select(col("src"), col("e.dst").as("dst"), col("e.weight").as("weight"),
        col("e.dst_part").as("dst_part"))
    PropertyGraph(vertices, edges)
  }

  /** A4: whitespace-separated integer files (the reference's sample-sort
    * inputs, `/root/reference/samplesort.cpp:41-58`). */
  def integers(spark: SparkSession, pathGlob: String): DataFrame =
    spark.read.text(pathGlob)
      .select(explode(split(trim(col("value")), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
      .select(col("tok").cast("long").as("n"))

  /** Writer for the pre-partitioned subgraph format [[metisSubgraph]]
    * reads — the output side of the reference's partition-and-scatter
    * pre-processing (`graph.h` writes `<file>.subgraph.<p>` per rank with
    * the `sprintf("%04zu", fmt)` header, fmt = 1111: vid, vwgt, and per
    * edge `nbr nbrloc ewgt`). Owner = `id mod parts` by default (the
    * hash-partition convention, SURVEY §2.1 O7) or an explicit
    * `(id, part)` assignment frame — the [[localityAssignment]] path,
    * the engine's analog of the reference's Zoltan locality partitioner
    * (`gmr.cpp:107-167`, O8). The assignment frame must carry AT MOST
    * one row per id (a duplicate id duplicates that vertex's line);
    * ids it misses fall back to `id mod parts`. Neighbors are listed
    * in ascending id order so the output is deterministic.
    *
    * The line construction is fully distributed (per-vertex adjacency
    * grouping — one shuffle); only the final per-part file emission is
    * single-task-per-part (the format contract: one file per reference
    * rank, so write parallelism IS the part count — faithful to what it
    * replaces, the reference's own partitioner running in-memory on
    * rank 0). The header rides as each part's first ROW (the counts are
    * known before the write), so finishing a file is one O(1) rename —
    * no second byte pass. Renames go through the Hadoop FileSystem API,
    * so the writer works against whatever filesystem `basePath`
    * resolves to (local, HDFS, S3A), not just driver-local disk.
    *
    * Weights: integral weights are written as integer tokens (the
    * reference's default `iss >> iewgt` path); if ANY edge weight is
    * fractional, ALL weights are written as float tokens instead — the
    * reference's `isfewgts` float path (`graph.h:609-612,692-695`). A
    * file mixes the two never, since the reader parses one type.
    *
    * Every part must be non-empty: the reference reader errexits on
    * `nvtxs<=0 || nedges<=0` (`graph.h:587-588`), so this writer refuses
    * to emit a file the reference's ranks cannot read — choose `parts`
    * small enough that every `id mod parts` class has vertices and edges.
    * Round-trip proven in GraphLoadersSpec: write → [[metisSubgraph]]
    * per part → union == original graph. */
  def writeMetisSubgraphs(g: PropertyGraph, parts: Int, basePath: String,
                          assignment: Option[DataFrame] = None): Unit = {
    val spark = g.edges.sparkSession
    // The assignment is consumed twice (edge dst ownership + vertex
    // ownership) and its plan is the LPA/LPT pipeline — persist it once.
    // It is O(V) two-long rows, so when it fits the broadcast budget
    // (GraphOps.broadcastFits — one deliberate broadcast per write
    // replacing an O(E) shuffle exchange on the edge side, which the
    // sf10 decomposition named as the write leg's dominant cost term;
    // VERDICT r9 item 2) the ownership joins broadcast; beyond the
    // budget they fall back to the shuffle join.
    val assignPersisted = assignment.map(_
      .select(col("id"), col("part").cast("long").as("part"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // 16 payload bytes + ~16 row overhead per (id, part) row; the count
    // also materializes the persisted frame exactly once.
    val assignBroadcasts =
      assignPersisted.exists(a => GraphOps.broadcastFits(spark, 32L * a.count()))
    // Owner of vertex v: the assignment frame's part when provided (the
    // locality path, SURVEY §2.1 O8), else `id mod parts` (the reference's
    // random/hash convention, O7 — also the fallback for ids the
    // assignment misses, e.g. gap-filled isolated vertices).
    def owned(in: DataFrame, idCol: String, out: String): DataFrame =
      assignPersisted match {
        case Some(a) =>
          val af = a.select(col("id").as(idCol), col("part").as(out))
          in.join(if (assignBroadcasts) broadcast(af) else af,
              Seq(idCol), "left_outer")
            .withColumn(out, coalesce(col(out), pmod(col(idCol), lit(parts.toLong))))
        case None =>
          in.withColumn(out, pmod(col(idCol), lit(parts.toLong)))
      }
    val nbrs = owned(g.edges
        .select(col("src"), col("dst"), coalesce(col("weight"), lit(1.0)).as("w")),
        "dst", "dpart")
      .groupBy(col("src"))
      .agg(sort_array(collect_list(struct(col("dst"), col("dpart"), col("w")))).as("ns"))
    // Persist the STRUCT skeleton, not the rendered line strings: the
    // counts pass below also decides the weight-token type (fused
    // fractional-weight detection — the separate O(E) `allIntegral`
    // pre-scan was a full extra pass per write, guide §1.2), and the
    // token type must be known before any string is rendered, so the
    // strings are built exactly once, inside the write job.
    val pre = owned(g.vertices.select(col("id")), "id", "part")
      .join(nbrs, col("id") === col("src"), "left_outer")
      .select(col("id"), col("part"),
        coalesce(col("ns"), array().cast("array<struct<dst:bigint,dpart:bigint,w:double>>"))
          .as("ns"))
    pre.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val hconf = spark.sparkContext.hadoopConfiguration
      // One grouped pass for every part's header counts (the per-part
      // agg loop was `parts` extra jobs over the persisted frame) — the
      // same pass detects fractional edge weights (`isfewgts`,
      // graph.h:609-612): every edge record is in exactly one `ns`.
      val countRows = pre.groupBy(col("part"))
        .agg(count(lit(1)).as("nv"), sum(size(col("ns"))).as("ne"),
          max(exists(col("ns"),
            n => n.getField("w") =!= floor(n.getField("w")))).as("frac"))
        .collect()
      val allIntegral = !countRows.exists(r => Option(r.get(3)).contains(true))
      def wTok(c: org.apache.spark.sql.Column) =
        if (allIntegral) c.cast("long").cast("string") else c.cast("string")
      val lines = pre.select(col("id"), col("part"),
        concat_ws(" ",
          col("id").cast("string"), lit("1"), // vid, vwgt (ncon=1)
          concat_ws(" ", flatten(transform(col("ns"),
            n => array(n.getField("dst").cast("string"),
              n.getField("dpart").cast("string"),
              wTok(n.getField("w"))))))).as("line"))
      val counts = countRows
        .map(r => r.getLong(0) -> (r.getLong(1),
          Option(r.get(2)).map(_.toString.toLong).getOrElse(0L))).toMap
      // An out-of-range owner would emit a part=p directory the header
      // loop below never reads — vertices silently vanishing from the
      // roundtrip. Reject it before anything is written.
      val outOfRange = counts.keys.filter(p => p < 0 || p >= parts)
      require(outOfRange.isEmpty,
        s"assignment maps vertices to part(s) ${outOfRange.toSeq.sorted.mkString(",")} " +
          s"outside [0, $parts) — was the assignment computed for a different part count?")
      (0 until parts).foreach { p =>
        val (nv, ne) = counts.getOrElse(p.toLong, (0L, 0L))
        require(nv > 0 && ne > 0,
          s"part $p of $parts is empty (nvtxs=$nv nedges=$ne): the reference " +
            "reader rejects empty subgraphs (graph.h:587-588) — use fewer parts")
      }
      // ONE job writes every part's sorted single file: hash-repartition
      // on the part id puts each part's rows in exactly one task (two
      // parts may share a task — partitionBy still splits them into
      // separate files, each internally ordered), sortWithinPartitions
      // orders by (part, id), and the dynamic-partition text write emits
      // part=p/ dirs. The previous shape — one orderBy job per part run
      // on concurrent driver threads — paid `parts` × (2-stage sort +
      // job schedule + codegen) on tiny data: measured ~9-13 s of mostly
      // scheduler/JIT latency at sf0.1 vs ~3 s for this single pass.
      //
      // The `nvtxs nedges fmt ncon` header is INJECTED as each part's
      // first row (id = Long.MinValue sorts before every vertex) — the
      // counts are already known from the grouped pass above, so the
      // finished file only needs an O(1) rename. The previous shape —
      // create + header + stream-copy the whole part file — was a
      // second full sequential byte pass per part (r9; the sf10 probe
      // measured ~90 s per 3-part write at ~2.6 GB/part, half of it
      // this copy).
      val spark2 = g.edges.sparkSession
      import spark2.implicits._
      val headers = counts.toSeq.map { case (p, (nv, ne)) =>
        (java.lang.Long.MIN_VALUE, p, s"$nv $ne 1111 1")
      }.toDF("id", "part", "line")
      val tmp = new org.apache.hadoop.fs.Path(s"$basePath.subgraphs.tmp")
      val fs = tmp.getFileSystem(hconf)
      lines.select(col("id"), col("part"), col("line")).union(headers)
        .repartition(parts, col("part"))
        .sortWithinPartitions(col("part"), col("id"))
        .select(col("part"), col("line").as("value"))
        .write.partitionBy("part").mode("overwrite").text(tmp.toString)
      (0 until parts).foreach { p =>
        val dir = new org.apache.hadoop.fs.Path(tmp, s"part=$p")
        val partFiles = fs.listStatus(dir).map(_.getPath)
          .filter(_.getName.startsWith("part-"))
        // The rename finish assumes the repartition(col("part")) task
        // committed exactly ONE file per part=p dir. A session-wide
        // spark.sql.files.maxRecordsPerFile (or codec split) could emit
        // several; renaming just the first would silently drop vertex
        // lines, so the single-file invariant fails loudly (ADVICE r9).
        require(partFiles.length == 1,
          s"part=$p committed ${partFiles.length} files (expected exactly 1; " +
            "is spark.sql.files.maxRecordsPerFile set session-wide?)")
        val dst = new org.apache.hadoop.fs.Path(s"$basePath.subgraph.$p")
        if (fs.exists(dst)) fs.delete(dst, false)
        require(fs.rename(partFiles.head, dst), s"rename ${partFiles.head} -> $dst failed")
      }
      fs.delete(tmp, true)
    } finally {
      pre.unpersist(blocking = false)
      assignPersisted.foreach(_.unpersist(blocking = false))
    }
  }

  /** Locality-aware part assignment — the engine's analog of the
    * reference's Zoltan/METIS "minimize inter-node traffic" partitioner
    * (`/root/reference/gmr.cpp:107-167`, `partition.h:271-364`;
    * `README.md:49-51`). Input is any community labeling `(id, label)`
    * (LPA labels are the natural feed — g8's materialization); output is
    * `(id, part)` with whole communities kept on one part so
    * community-internal edges are never cut.
    *
    * Balancing is capacity-constrained (Zoltan's balance objective): a
    * community larger than one part's capacity ⌈N/parts⌉ is split into
    * ⌈sz/cap⌉ hash sub-buckets first — otherwise one giant LPA community
    * (the common fixpoint on dense graphs) starves every other part.
    * The TOP `parts × heavyFactor` placement units by member count (a
    * bounded collect — parts is a user constant) are then placed
    * greedily largest-first onto the least-loaded part (the LPT
    * bin-packing heuristic; greedy fills every part once before
    * doubling up, so no part is left empty while ≥ parts units exist);
    * the long tail of small communities hashes by (label, bucket) into
    * a part chosen through a residual-capacity-weighted slot table (see
    * below), spreading without materializing the label dimension on
    * the driver. Each vertex picks up its unit's part through one
    * broadcast join with the hash fallback — the only shuffles are the
    * label-size aggregate and the size join.
    *
    * Tail balance (ADVICE r8): a uniform `pmod(hash, parts)` tail would
    * hand every part a full 1/parts tail share even when the LPT heavy
    * placement already loaded it near capacity, so total imbalance
    * could exceed the cap the capacity-splitting aims for. The tail is
    * therefore hashed into a fixed 1024-slot literal table where part i
    * owns slots proportional to its RESIDUAL capacity max(0, cap −
    * load_i) after the heavy placement — an O(1) `element_at` per row,
    * no extra shuffle, and a (label, bucket) unit still maps to ONE
    * slot so whole tail communities stay unsplit. The residual
    * quantization bounds the added tail skew at 1/1024 of the tail
    * mass per part. */
  def localityAssignment(labels: DataFrame, parts: Int,
                         heavyFactor: Int = 8): DataFrame = {
    val spark = labels.sparkSession
    import spark.implicits._
    val total = labels.count()
    val cap = math.max(1L, (total + parts - 1) / parts.toLong)
    val sized = labels
      .join(labels.groupBy(col("label")).agg(count(lit(1)).as("sz")), "label")
      .select(col("id"), col("label"),
        pmod(xxhash64(col("id")),
          greatest(expr(s"(sz + ${cap - 1}) DIV $cap"), lit(1L))).as("bucket"))
    val units = sized.groupBy(col("label"), col("bucket")).agg(count(lit(1)).as("sz"))
    val heavy = units.orderBy(col("sz").desc, col("label"), col("bucket"))
      .limit(parts * heavyFactor).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val loads = Array.fill(parts)(0L)
    val heavyAssign = heavy.map { case (lbl, b, sz) =>
      val p = loads.indices.minBy(i => (loads(i), i))
      loads(p) += sz
      (lbl, b, p.toLong)
    }
    val heavyDf = heavyAssign.toSeq.toDF("label", "bucket", "hpart")
    // Residual-capacity slot table for the tail: slot s belongs to the
    // part whose cumulative-residual interval contains s·R/1024. Parts
    // at or over capacity get no slots; if nothing is under capacity
    // (heavy units filled every part exactly) fall back to round-robin.
    val NSlots = 1024
    val resid = loads.map(l => math.max(0L, cap - l))
    val totalResid = resid.sum
    val slots: Array[Long] =
      if (totalResid <= 0L) Array.tabulate(NSlots)(i => (i % parts).toLong)
      else {
        val cum = resid.scanLeft(0L)(_ + _)
        Array.tabulate(NSlots) { s =>
          val x = s.toLong * totalResid / NSlots
          math.min(cum.lastIndexWhere(_ <= x), parts - 1).toLong
        }
      }
    // One ArrayType Literal, not CreateArray of 1024 literal exprs —
    // the expression tree stays a single node in codegen.
    val slotArr = lit(slots)
    sized.join(broadcast(heavyDf), Seq("label", "bucket"), "left_outer")
      .select(col("id"),
        coalesce(col("hpart"),
          element_at(slotArr,
            (pmod(xxhash64(col("label"), col("bucket")), lit(NSlots.toLong)) + 1)
              .cast("int"))).as("part"))
  }

  /** One-scan reader for a SET of subgraph files PRODUCED BY
    * [[writeMetisSubgraphs]] — the r22 fast path for the roundtrip
    * queries (g19/g29) and [[partitionStats]], which used to pay the
    * general [[metisSubgraph]] machinery per part per consumer: one
    * RDD zipWithIndex job + one header `first()` job per file at
    * CONSTRUCTION, plus a full regex-tokenized re-parse of every file
    * for every consuming aggregate — measured as the dominant leg of
    * g19 at sf0.1 (10.1 s of its 11.3 s band; guide §1.1/§2.4).
    *
    * Contract (narrower than [[metisSubgraph]], and exactly what the
    * writer emits): fmt=1111, ncon=1, single-space separated tokens,
    * one `nvtxs nedges 1111 1` header line per file. Data rows carry
    * `vid vwgt (nbr nbrloc ewgt)*` = 2+3k tokens ≡ 2 (mod 3); the
    * 4-token header ≡ 1 (mod 3), so the header is dropped structurally
    * with no line-position bookkeeping — the whole read is ONE
    * splittable FileScan (no zipWithIndex, no per-file `first()`), one
    * pass, whole-stage codegen. Reference-format files with other fmt
    * masks keep using [[metisSubgraph]]; each file's header is checked
    * first ([[requireWrittenHeader]]), so they fail loudly here instead
    * of parsing into short counts.
    *
    * Returns one row per vertex line: (part, id, ns) with
    * `ns: array<struct<dst, dst_part, weight>>` in file order. */
  private[graft] def writtenSubgraphRecords(spark: SparkSession, basePath: String,
                                            parts: Int): DataFrame = {
    (0 until parts).map { p =>
      val path = s"$basePath.subgraph.$p"
      requireWrittenHeader(spark, path)
      spark.read.text(path)
        .select(lit(p.toLong).as("part"), split(trim(col("value")), " ").as("t"))
    }.reduce(_ union _)
      .where(size(col("t")) % 3 === 2) // data rows only; header is ≡ 1 (mod 3)
      .withColumn("k", ((size(col("t")) - 2) / 3).cast("int")) // neighbor count
      .select(col("part"),
        element_at(col("t"), 1).cast("long").as("id"),
        // Triple indices 0 until k. sequence(0, k - 1) would count DOWN
        // to [0, -1] for an isolated vertex (k = 0); the first k of
        // sequence(0, k) are empty there.
        transform(slice(sequence(lit(0), col("k")), lit(1), col("k")), g => struct(
          element_at(col("t"), g * 3 + 3).cast("long").as("dst"),
          element_at(col("t"), g * 3 + 4).cast("int").as("dst_part"),
          element_at(col("t"), g * 3 + 5).cast("double").as("weight"))).as("ns"))
  }

  /** Reads the first line of `path` through the Hadoop FileSystem (no
    * Spark job) and requires the header [[writeMetisSubgraphs]] emits: `nvtxs nedges
    * 1111` with ncon absent, 0 or 1. */
  private def requireWrittenHeader(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p),
      java.nio.charset.StandardCharsets.UTF_8))
    val header = try Option(in.readLine()).getOrElse("") finally in.close()
    val t = header.trim.split("\\s+")
    val ok = (t.length == 3 || t.length == 4) && t.take(2).forall(_.forall(_.isDigit)) &&
      t(2) == "1111" && (t.length == 3 || t(3) == "0" || t(3) == "1")
    require(ok, s"$path: header '$header' is not 'nvtxs nedges 1111 [0|1]', the " +
      "layout writeMetisSubgraphs emits; read other subgraph files with metisSubgraph")
  }

  /** [[partitionStats]] over an already-parsed [[writtenSubgraphRecords]]
    * frame — callers that also read the graph back (g19) parse the files
    * once, persist, and share the frame between the stats aggregate and
    * the edge view. ONE aggregate produces all three counts; the
    * per-row cut count is a single-level higher-order `filter` over the
    * neighbor array (no nested-lambda interpretation trap, no exploded
    * intermediate ahead of the exchange — guide §2.3). */
  def partitionStatsFromRecords(records: DataFrame): DataFrame =
    records.groupBy(col("part")).agg(
        count(lit(1)).as("nvtxs"),
        coalesce(sum(size(col("ns"))), lit(0L)).cast("long").as("nedges"),
        coalesce(sum(size(filter(col("ns"),
          n => n.getField("dst_part").cast("long") =!= col("part")))), lit(0L))
          .cast("long").as("cut_edges"))
      .withColumn("cut_pct",
        round(col("cut_edges") * 100.0 / greatest(col("nedges"), lit(1L)), 2))
      .orderBy("part")

  /** Partition-quality metrics over a set of fmt=1111 subgraph files —
    * the reference's `showGraphPartitions` analog
    * (`/root/reference/partition.h:469-542`), which prints per-part
    * assignment, the edge-cut count, and an object-imbalance measure.
    * One row per part: vertex count, edge-record count, cut edge
    * records (the file's recorded neighbor owner `dst_part` differs
    * from the part that owns the source), and the cut fraction. Since
    * r22 this is one aggregate over ONE shared file scan
    * ([[writtenSubgraphRecords]] — every call site reads files this
    * engine's writer produced); nothing per-row reaches the driver. */
  def partitionStats(spark: SparkSession, basePath: String, parts: Int): DataFrame =
    partitionStatsFromRecords(writtenSubgraphRecords(spark, basePath, parts))

  /** The reference's imbalance measure over a [[partitionStats]] frame:
    * `max_p(nparts * count_p / sum)` — 1.0 is perfect balance, larger is
    * worse (`partition.h:530-534`) — for vertices and edge records, plus
    * the total cut-record count (`partition.h:536-537`). */
  def partitionImbalance(stats: DataFrame): (Double, Double, Long) = {
    val r = stats.agg(max(col("nvtxs")), sum(col("nvtxs")),
      max(col("nedges")), sum(col("nedges")),
      sum(col("cut_edges")), count(lit(1))).first()
    val parts = r.getLong(5).toDouble
    (parts * r.getLong(0) / r.getLong(1).toDouble,
      parts * r.getLong(2) / r.getLong(3).toDouble,
      r.getLong(4))
  }
}

/** The reference's global sample sort (`/root/reference/samplesort.cpp`,
  * SURVEY.md §2.1 O22) is exactly Spark's `orderBy`: sample → range
  * bounds → shuffle → per-partition sort (RangePartitioner). This wrapper
  * exists to make that equivalence explicit and testable. */
object SampleSort {
  def sort(df: DataFrame, column: String): DataFrame = df.orderBy(col(column))
}
