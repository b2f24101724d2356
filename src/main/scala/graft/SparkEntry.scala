package graft

import graft.io.{Ingest, SyntheticDocs}
import graft.model._
import graft.ops.{Dedup, DocOps, Multimodal, Similarity, TextAnalysis}
import graft.pipeline.{Pipeline, SpanOps}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator family from SURVEY §2 surfaces here as a named query;
  * SQL-expressible ones carry a DuckDB oracle in [[oracleSql]] (column names
  * aligned on both sides — the driver sorts columns by name before hashing).
  * Span-pipeline queries run on the deterministic synthetic interleaved-doc
  * corpus (seeded, parallel-safe) and are verified span-for-span by the
  * ScalaTest suites instead (BASELINE.json: `sbt -batch test`).
  */
object SparkEntry {

  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The sf `documents` table ships as ONE parquet split (one small file,
    * one row group), so a typed map over it runs as a SINGLE task no matter
    * how many cores the cluster has. Every query whose per-row kernel is
    * real work (container/codec round-trips: PDF build+parse, OOXML/CFB
    * zip assembly, WAV/PNG encode…) spreads the tiny doc_id-only input
    * first — the same treatment the pair ops have always applied (guide
    * §1.2 step 1: fix the distributed shape before the per-task work). The
    * exchange moves 8-byte ids, never payloads; `defaultParallelism` keeps
    * it cluster-adaptive. Measured (BenchExtra, sf0.1, local[32]):
    * q_pdf_info 2.7 s → 0.63 s, q_pdf_text 2.2 s → 0.54 s, q_xlsx 1.1 s
    * → 0.43 s — identical result sets.
    */
  private def docIdsSpread(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)

  /** Shared envelope of the format oracle rows: each id's `RawDoc` (built
    * by the caller through the REAL ingestion route, `Ingest.toRawDoc`)
    * runs through `Pipeline.extractOne`, any failure row fails the query,
    * and the span stream projects to the union of the columns the format
    * oracles read; each row then selects its own.
    */
  private def route(s: SparkSession, dir: String)(doc: Long => RawDoc): DataFrame = {
    import s.implicits._
    docIdsSpread(s, dir).as[Long].map { id =>
      val out = Pipeline.extractOne(doc(id))
      require(out.failure.isEmpty, out.failure)
      (id, out.mime_type, out.title, out.page_count, out.spans.size,
        out.spans.map(_.kind).mkString(","),
        out.spans.filter(_.kind == "image").map(_.media_ref).mkString(","),
        out.spans.filter(_.kind == "text").map(_.text).mkString("\n"))
    }.toDF("doc_id", "mime_type", "title", "page_count", "n_spans", "kinds",
      "media_refs", "text_all")
  }

  /** The columns every byte-container oracle row reads off [[route]]. */
  private val ByteCols =
    Seq("doc_id", "title", "page_count", "n_spans", "text_all").map(col)

  /** Collision-proof per-sf-dir key for staged fixture paths. String
    * hashCode is 32-bit and unsalted — with build-once markers a collision
    * between two sf dirs in one application would silently reuse the wrong
    * fixture, so the key is a sha-256 prefix of the full path instead.
    */
  private def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  /** Shared corpus for the Gopher-repetition rows: 4-6 lines per doc, a
    * duplicate line when id%2==0, a second duplicate pair when id%3==2,
    * one bullet line, one ellipsis line — every signal arithmetic.
    */
  private def gopherDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tbl(s, dir, "documents").select(col("doc_id"))
      .as[Long].map { id =>
        val base = Seq(
          s"alpha ${id % 5}",
          if (id % 2 == 0) s"alpha ${id % 5}" else s"beta ${id % 7}",
          s"- bullet ${id % 4}",
          s"tail ${id % 6}...")
        val extra = (id % 3) match {
          case 2 => Seq(s"gamma ${id % 8}", s"gamma ${id % 8}")
          case 1 => Seq(s"gamma ${id % 8}")
          case _ => Seq.empty[String]
        }
        (id, (base ++ extra).mkString("\n"))
      }.toDF("doc_id", "text")
  }

  /** One cleanup hook per staged tmp path, however many times the query
    * runs in this JVM (Bench does best-of-2 passes over every query).
    */
  private val registeredCleanups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def registerCleanup(path: String): Unit =
    if (registeredCleanups.add(path))
      sys.addShutdownHook(graft.io.TableIO.deleteRecursively(new java.io.File(path)))

  /** Build-once fixture dir for the rows that read staged files:
    * `<tmp>/<prefix><dirKey>_<applicationId>`, so concurrent drivers and
    * several sf dirs in one application never share a fixture. `build`
    * fills the cleared dir once per application; the `_BUILT` marker is
    * written AFTER it completes, so a half-built fixture is rebuilt. The
    * fixture is a pure function of the sf dir, so later runs reuse it and
    * time only the computation that reads it. The prefix is one of
    * [[graft.io.ExpectedTables]]'s swept tmp prefixes.
    */
  private def buildOnce(s: SparkSession, dir: String, prefix: String)(
      build: String => Unit): String = {
    val base = s"${sys.props("java.io.tmpdir")}/$prefix${dirKey(dir)}_" +
      s.sparkContext.applicationId
    registerCleanup(base)
    val marker = java.nio.file.Paths.get(base, "_BUILT")
    if (!java.nio.file.Files.exists(marker)) {
      graft.io.TableIO.deleteRecursively(new java.io.File(base))
      java.nio.file.Files.createDirectories(marker.getParent)
      build(base)
      java.nio.file.Files.write(marker, Array.emptyByteArray)
    }
    base
  }

  /** Per-doc REAL PNGs (solid color, deterministic dims w=30+id%100,
    * h=20+id%50) — the fixture for the real-codec media queries; dims are
    * arithmetic in doc_id so DuckDB oracles reproduce them exactly.
    */
  private def synthPngMedia(s: SparkSession, dir: String): Dataset[Multimodal.MediaRow] = {
    import s.implicits._
    docIdsSpread(s, dir)
      .as[Long].map { id =>
        val w = 30 + (id % 100).toInt
        val h = 20 + (id % 50).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = img.createGraphics()
        try {
          g.setColor(new java.awt.Color((id % 256).toInt, 80, 160))
          g.fillRect(0, 0, w, h)
        } finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Multimodal.MediaRow(id.toString, "img-0.png", "image/png", bos.toByteArray)
      }
  }

  /** FileStreamSource needs a directory; the sf tables ship one parquet FILE
    * each — stage it into a per-process temp dir (tiny, one copy). Swept on
    * exit and by [[graft.io.ExpectedTables]]'s aged-orphan sweep.
    */
  private def stageAsStreamDir(s: SparkSession, dir: String, table: String): String = {
    val src = java.nio.file.Paths.get(s"$dir/$table.parquet")
    if (java.nio.file.Files.isDirectory(src)) src.toString
    else {
      val d = java.nio.file.Paths.get(
        s"${sys.props("java.io.tmpdir")}/graft_events_stream_${s.sparkContext.applicationId}_$table")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.copy(src, d.resolve(s"$table.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      registerCleanup(d.toString)
      d.toString
    }
  }

  /** Synthetic interleaved corpus sized off the documents table (~4×). */
  private def rawDocs(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val n = SyntheticDocs.corpusSize(tbl(spark, dir, "documents").count())
    spark.range(n).map(i => SyntheticDocs.generate(SyntheticDocs.CorpusSeed, i).raw)
  }

  /** The relational `documents` table lifted into `Dataset[Doc]` (single
    * text-span docs; every third carries an image sidecar whose payload is
    * the deterministic "id:source" bytes) — the oracle-visible input for the
    * doc-level operators (export, files list, chunking, corrections).
    */
  private def docsFromDocuments(s: SparkSession, dir: String, withMedia: Boolean): Dataset[Doc] = {
    import s.implicits._
    tbl(s, dir, "documents").select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)].map { case (id, text, src) =>
        val base = graft.md.Markdown.parse(text)
        val media =
          if (withMedia && id % 3 == 0)
            Seq(MediaItem("img-0.png", "image/png", Multimodal.docPayload(id.toString, src)))
          else Nil
        val spans =
          if (media.isEmpty) base
          else base :+ Span(SpanKind.Image, "img-0", "img-0.png", base.length)
        Doc(id.toString, spans, title = id.toString,
          source_path = s"docs/$src/$id.md", mime_type = "text/markdown",
          page_count = graft.md.Markdown.pageCount(spans), media = media)
      }
  }

  /** Flagship: full extract → assemble → summarize pipeline on sf=0.001. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val raw = spark.range(2000).map(i => SyntheticDocs.generate(SyntheticDocs.CorpusSeed, i).raw)
    val docs = Pipeline.toDocs(Pipeline.extract(raw, repartitionTo = 32)).toDF()
    docs.select(col("doc_id"), col("page_count"), size(col("spans")).as("n_spans"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------------------------------------------ relational shells
    "q1_agg" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity").cast("decimal(18,2)")), 2).cast("double").as("sum_qty"),
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
    }),
    "q_join_topn" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(round(sum(col("o_totalprice").cast("decimal(18,2)")), 2).cast("double").as("total_spend"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("total_spend").desc, col("c_custkey"))
        .limit(20)
    }),
    "q_antijoin" -> ((s, dir) => {
      // customers with no large order — the resume-anti-join shape
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders").filter(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_anti").select(col("c_custkey"), col("c_acctbal"))
    }),
    "q_topk_sort" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(25)),
    "q_events_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      tbl(s, dir, "events")
        .withColumn("running_value",
          round(sum(col("value").cast("decimal(18,2)")).over(w), 2).cast("double"))
        .withColumn("event_rank", row_number().over(w))
        .select(col("user_id"), col("event_id"), col("event_rank"), col("running_value"))
    }),
    "q_events_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      tbl(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(w))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("session_value"))
    }),
    "q_events_stream" -> ((s, dir) => {
      // the SAME tumbling-window aggregation as a Structured Streaming plan
      // (readStream → watermark → window → memory sink, run to completion):
      // gives the streaming module a driver-gate correctness row against a
      // batch SQL oracle. Complete mode: every window is emitted regardless
      // of the watermark, so the result equals the batch aggregation. The
      // memory sink collects to the driver — bounded by the distinct
      // (window, event_type) count, not the event count.
      val batschema = tbl(s, dir, "events").schema
      val streamDir = stageAsStreamDir(s, dir, "events")
      val stream = graft.streaming.EventStream.windowedCounts(s, streamDir, batschema)
      val name = "q_events_stream_sink"
      val q = stream.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      s.table(name).select(
        unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("n"), col("total_value"))
    }),
    "q_stream_dedup" -> ((s, dir) => {
      // streaming exact-dedup correctness row: DocStream.dedupStream
      // (dropDuplicates state, append mode) over the documents table read as
      // a file stream. Survivor IDENTITY under streaming dropDuplicates is
      // first-arrival — nondeterministic across partitions — so the
      // projection emits only survivor-INVARIANT columns: the content hash
      // and the hash-determined text length. Row count still proves the
      // dedup (one row per distinct content), and the memory sink holds
      // distinct-hash rows, not the corpus.
      val schema = tbl(s, dir, "documents").schema
      val raw = s.readStream.schema(schema)
        .parquet(stageAsStreamDir(s, dir, "documents"))
      val deduped = graft.streaming.DocStream.dedupStream(raw)
        .select(col("content_hash"),
          length(col("text")).cast("int").as("n_chars"))
      val name = "q_stream_dedup_sink"
      val q = deduped.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      s.table(name)
    }),
    // ------------------------------------------------ text analysis
    "q_token_count" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))),
    "q_quality" -> ((s, dir) =>
      TextAnalysis.withQualityFeatures(tbl(s, dir, "documents"))
        .select("doc_id", "n_tokens", "alpha_ratio", "punct_ratio", "mean_word_len")),
    "q_langid" -> ((s, dir) =>
      TextAnalysis.withLanguageId(tbl(s, dir, "documents"))
        .select("doc_id", "hits_en", "hits_de", "hits_fr", "hits_es", "lang_pred")),
    "q_fingerprint" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))),
    "q_subword_count" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.subwordCount(col("text")).as("n_subwords"))),
    "q_quality_score" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))),
    // ------------------------------------------------ dedup family
    "q_dedup_exact" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .groupBy(TextAnalysis.contentHash(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_docs"))),
    "q_dedup_survivors" -> ((s, dir) =>
      Dedup.exactSurvivors(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("n_chars"))),
    // pair ops run on a fixed 500-doc calibration slice so cost is constant
    // across SFs (the operators themselves are shuffle-bounded for scale);
    // the small parquet arrives as ONE split, so spread it before the
    // per-row sketch work
    "q_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(
        tbl(s, dir, "documents").filter(col("doc_id") < 500)
          .repartition(s.sparkContext.defaultParallelism),
        threshold = 0.18, shingleN = 3, maxDocFreq = 50)),
    "q_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(
        tbl(s, dir, "documents").filter(col("doc_id") < 500)
          .repartition(s.sparkContext.defaultParallelism),
        threshold = 0.15, k = 32, bands = 8)),
    "q_dedup_clusters" -> ((s, dir) => {
      // near-dup CLUSTER formation: the transitive-closure step between
      // pair generation and canonical selection (a~b, b~c collapse to one
      // cluster even when a~c was never emitted). Min-label propagation
      // over the same pair graph the q_minhash_pairs oracle reproduces.
      val slice = tbl(s, dir, "documents").filter(col("doc_id") < 500)
        .repartition(s.sparkContext.defaultParallelism)
      val pairs = Dedup.minhashPairs(slice, threshold = 0.15, k = 32, bands = 8)
      Dedup.connectedComponents(slice.select(col("doc_id")), pairs)
    }),
    "q_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(
        tbl(s, dir, "documents").filter(col("doc_id") < 500)
          .repartition(s.sparkContext.defaultParallelism), maxHamming = 8)),
    "q_embed_neardups" -> ((s, dir) =>
      Dedup.embeddingNearDups(tbl(s, dir, "embeddings"), threshold = 0.2, planes = 6)),
    "q_training_filter" -> ((s, dir) => {
      // composed training-set selection: exact-dedup survivors → quality
      // score → language id → token floor — the end-use shape of the
      // training-data ops, oracle-checked as one plan.
      // project BEFORE the survivor shuffle (guide §2.3): the filter chain
      // derives everything from (doc_id, text), so lang/source/n_chars
      // need not ride the min_by exchange — result identical
      val survivors = Dedup.exactSurvivors(
        tbl(s, dir, "documents").select(col("doc_id"), col("text")))
      TextAnalysis.withLanguageId(
        survivors
          .withColumn("quality", TextAnalysis.qualityScore(col("text")))
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text"))))
        .filter(col("quality") >= 0.5 && col("n_tokens") >= 20 && col("lang_pred") === "en")
        .select(col("doc_id"), col("quality"), col("n_tokens"))
    }),
    // ------------------------------------------------ similarity search
    "q_ann_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 5)
    }),
    "q_ann_ivf" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20), k = 5, nCells = 8, nProbe = 3)
    }),
    // ------------------------------------------------ span pipeline (synthetic corpus)
    "pipeline_extract" -> ((s, dir) => {
      Pipeline.toDocs(Pipeline.extract(rawDocs(s, dir),
        repartitionTo = s.sparkContext.defaultParallelism)).toDF()
        .select(col("doc_id"), col("mime_type"), col("page_count"),
          size(col("spans")).as("n_spans"))
    }),
    "pipeline_assemble" -> ((s, dir) => {
      val docs = Pipeline.toDocs(Pipeline.extract(rawDocs(s, dir))).toDF()
      SpanOps.assembleSkewAware(SpanOps.explodeSpans(docs))
        .select(col("doc_id"), size(col("spans")).as("n_spans"))
    }),
    "pipeline_renumber" -> ((s, dir) => {
      val docs = Pipeline.toDocs(Pipeline.extract(rawDocs(s, dir))).toDF()
      SpanOps.renumberPageBreaks(SpanOps.explodeSpans(docs))
        .filter(col("kind") === "page_break")
        .groupBy(col("doc_id")).agg(max(col("page_no")).as("n_pages"))
    }),
    "pipeline_page_filter" -> ((s, dir) => {
      val docs = Pipeline.toDocs(Pipeline.extract(rawDocs(s, dir))).toDF()
      SpanOps.filterPages(SpanOps.explodeSpans(docs), Set(1, 2))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans_p12"))
    }),
    "pipeline_chunks" -> ((s, dir) => {
      val docs = Pipeline.toDocs(Pipeline.extract(rawDocs(s, dir)))
      Pipeline.chunk(docs).toDF()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"), sum(size(col("media_refs"))).as("n_media"))
    }),
    "q_chunk_tokens" -> ((s, dir) => {
      // TokenAwareChunker driver surface (token_chunker/chunker.py:39-136):
      // greedy token-budget line accretion with overlap over the
      // PIPELINE-extracted spans. The expected table carries per-chunk
      // line ranges/token counts computed from generator-truth spans, so a
      // regression in extract OR in the chunker flips the compare; the
      // chunker algorithm itself is additionally golden-tested in
      // ChunkerSpec against reference fixtures.
      import s.implicits._
      val docs = Pipeline.toDocs(Pipeline.extract(rawDocs(s, dir)))
      docs.flatMap { d =>
        graft.chunk.Chunkers.tokenAwareChunks(d, maxTokensPerChunk = 120).map(c =>
          (d.doc_id, c.chunk_index, c.start_line, c.end_line, c.token_count,
            c.content.length))
      }.toDF("doc_id", "chunk_index", "start_line", "end_line", "token_count", "content_len")
    }),
    "pipeline_chunk_boundaries" -> ((s, dir) => {
      // chunk → re-inject chunk_boundary comment spans → re-parse: the
      // chunk_with_boundaries path (chunkers/base.py:79-223)
      import s.implicits._
      val docs = Pipeline.toDocs(Pipeline.extract(rawDocs(s, dir)))
      docs.map { d =>
        val content = graft.md.Markdown.render(d.spans).stripSuffix("\n")
        val chunks = graft.chunk.Chunkers.tokenAwareChunks(d, maxTokensPerChunk = 120)
        val withB = graft.chunk.Chunkers.addChunkBoundaries(content, chunks)
        val reparsed = graft.md.Markdown.parse(withB)
        (d.doc_id, chunks.length,
          reparsed.count(_.kind == graft.model.SpanKind.ChunkBoundary))
      }.toDF("doc_id", "n_chunks", "n_boundaries")
    }),
    "q_stream_extract" -> ((s, dir) => {
      // streaming EXTRACTION correctness row: the same typed-map extraction
      // as the batch pipeline, run as a Structured Streaming plan (append
      // mode, stateless) over the staged synthetic corpus; the projection
      // runs BEFORE the memory sink, so the driver holds three small
      // columns per doc, never the span payloads
      val ds = rawDocs(s, dir)
      val stageDir = buildOnce(s, dir, "graft_stream_raw_") { d =>
        ds.write.mode("overwrite").parquet(d)
      }
      val stream = graft.streaming.DocStream.extractStream(s, stageDir, ds.schema)
        .select(col("doc_id"), col("page_count"), size(col("spans")).as("n_spans"))
      val name = "q_stream_extract_sink"
      val q = stream.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      s.table(name)
    }),
    "pipeline_lineage" -> ((s, dir) => {
      // cluster-adaptive spread (was a fixed 16 — half this box's cores);
      // the single aggregated output row is partition-count-invariant
      val out = Pipeline.extract(rawDocs(s, dir),
        repartitionTo = s.sparkContext.defaultParallelism)
      Pipeline.lineage(out, snapshotId = 0L)
        .agg(sum(col("doc_count")).as("docs"), sum(col("span_count")).as("spans"),
          sum(col("failure_count")).as("failures"))
    }),
    // ------------------------------------------------ doc-level operators
    "q_numbered_lines" -> ((s, dir) =>
      DocOps.numberedLines(tbl(s, dir, "documents").filter(col("doc_id") < 20))
        .select("doc_id", "line_idx", "numbered")),
    "q_cost" -> ((s, dir) =>
      DocOps.withCost(
        tbl(s, dir, "documents")
          .withColumn("provider",
            element_at(typedlit(Seq("azure", "upstage", "llamaparse", "datalab")),
              (pmod(col("doc_id"), lit(4)) + 1).cast("int")))
          .withColumn("page_count", (floor(col("n_chars") / 500) + 1).cast("int")),
        col("provider"), col("page_count"))
        .select("doc_id", "provider", "page_count", "cost_usd")),
    "q_ingest" -> ((s, dir) => {
      // real-file ingestion end-to-end: materialize the documents table as
      // .md files (driver-side fixture build — local-mode test scaffolding,
      // not a data path), then list → filter → load → route via Ingest.
      // Fixed 500-file calibration slice: per-file open/stat overhead is the
      // cost driver, so the fixture stays constant across SFs like the
      // pair ops.
      import s.implicits._
      val base = buildOnce(s, dir, "graft_ingest_fixture_") { d =>
        tbl(s, dir, "documents").select(col("doc_id"), col("text"))
          .filter(col("doc_id") < 500)
          .as[(Long, String)].collect().foreach { case (id, text) =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(d, f"d$id%06d.md"),
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
      }
      Ingest.fromDirectory(s, base, pattern = "*.md").toDF()
        .select(col("doc_id").as("rel_path"), col("payload_kind"),
          length(col("raw")).as("n_chars"))
    }),
    "q_glob_filter" -> ((s, dir) => {
      // the convert_directory filter chain (glob + exclude + max_depth +
      // MIME-supported) over synthesized paths: even docs live at depth 2,
      // odd docs under an excluded sub/ dir; ext cycles pdf/html/log
      val ext = element_at(typedlit(Seq(".pdf", ".html", ".log")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val paths = tbl(s, dir, "documents")
        .withColumn("path",
          concat(lit("data/"), col("source"),
            when(pmod(col("doc_id"), lit(2)) === 1, lit("/sub")).otherwise(lit("")),
            lit("/f"), col("doc_id"), ext))
      DocOps.directoryFilter(paths, pattern = "data/**/f*",
        exclude = Seq("**/sub/**"), maxDepth = 3)
        .select(col("doc_id"), col("path"))
    }),
    "q_mime_guess" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .withColumn("path", concat(lit("docs/f"), col("doc_id"),
          element_at(typedlit(Seq(".pdf", ".html", ".png", ".weird")),
            (pmod(col("doc_id"), lit(4)) + 1).cast("int"))))
        .select(col("doc_id"), DocOps.guessMime(col("path")).as("mime"))),
    "q_export" -> ((s, dir) =>
      // directory-export sink over the oracle-visible documents table:
      // document.md (real frontmatter from the doc assembly) + image rows
      // with base64 payloads from the media sidecar
      // doc_id cast: the engine's String doc_id (real ids are relative
      // paths) vs the oracle's BIGINT from `documents` — the driver's hash
      // is type-sensitive, so align the projection (query-side only)
      DocOps.exportRows(docsFromDocuments(s, dir, withMedia = true))
        .select(col("doc_id").cast("long").as("doc_id"), col("filename"),
          length(col("content")).as("content_len"))),
    "q_files_list" -> ((s, dir) => {
      val docs = docsFromDocuments(s, dir, withMedia = true)
      DocOps.filesList(docs)
        .select(col("doc_id").cast("long").as("doc_id"), size(col("files")).as("n_files"),
          concat_ws(",", col("files")).as("files_csv"))
    }),
    "q_doc_meta" -> ((s, dir) => {
      // the REAL Document assembly (extractOne) over documents-derived raw
      // payloads: title/source_path/page_count/cost metadata, oracle-checked
      import s.implicits._
      val raw = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)].map { case (id, text) =>
          val kind = (id % 3) match {
            case 0 => "md_azure"
            case 1 => "md_slides"
            case _ => "md_datalab"
          }
          val mime = if (id % 3 == 1) "application/vnd.openxmlformats-officedocument.presentationml.presentation" else "application/pdf"
          RawDoc(id.toString, kind, mime, text, Nil, Nil)
        }
      Pipeline.toDocsDF(Pipeline.extract(raw))
        .select(col("doc_id").cast("long").as("doc_id"), col("title"),
          col("source_path"), col("mime_type"),
          col("page_count"),
          try_element_at(col("metadata"), lit("conversion_cost_usd")).as("cost_usd"),
          try_element_at(col("metadata"), lit("pages_processed")).as("pages_processed"))
    }),
    "q_chunk_fallback" -> ((s, dir) => {
      // markdown chunker, size-fallback path (markdown_chunker/chunker.py:44-53)
      // over single-section docs: windows of 200 chars, stride 160
      import s.implicits._
      docsFromDocuments(s, dir, withMedia = false)
        .flatMap(d => graft.chunk.Chunkers.markdownChunks(d, maxChunkSize = 200, chunkOverlap = 40))
        .toDF()
        .select(col("doc_id").cast("long").as("doc_id"), col("chunk_index"),
          length(col("content")).as("chunk_len"))
    }),
    "q_corrections" -> ((s, dir) => {
      // apply_corrections (ai_processor.py:39-58): reverse order, first-wins,
      // bounds-checked — line 1 replaced, line 99 out of range
      import s.implicits._
      tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)].map { case (id, text) =>
          val firstLine = text.split("\n", 2)(0)
          // ASCII-only uppercase (a 1:1 char map): Java's full-case
          // toUpperCase grows 'ß'→"SS" while SQL upper() maps 1:1, so only
          // the locale-free ASCII subset is portable across engines
          val corrected40 = firstLine.take(40).map(c =>
            if (c >= 'a' && c <= 'z') (c - 32).toChar else c)
          val (corrected, _) = DocOps.applyCorrections(text, Seq(
            DocOps.LineCorrection(1, corrected40),
            DocOps.LineCorrection(1, "ignored duplicate"),
            DocOps.LineCorrection(99, "out of range")))
          (id, corrected)
        }.toDF("doc_id", "corrected")
    }),
    "q_page_range" -> ((s, dir) => {
      // parse_page_range pushdown predicate (pdf_utils.py:22-50): keep docs
      // whose synthetic page (doc_id%10+1) is in the parsed range
      val pages = graft.extract.PageRange.parse("2-4,7").map(_.toLong)
      tbl(s, dir, "documents")
        .withColumn("page", pmod(col("doc_id"), lit(10)) + 1)
        .filter(col("page").isInCollection(pages))
        .select(col("doc_id"), col("page"))
    }),
    "q_minhash_sig" -> ((s, dir) =>
      // granular signature check: the 32 portable MinHash lanes themselves
      tbl(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"),
          concat_ws("_", Dedup.minhashSignature(col("text"), k = 32, shingleN = 3)).as("sig"))),
    "q_verify_join" -> ((s, dir) => {
      // self-verification: pipeline output vs the generator's expected spans
      import s.implicits._
      val n = SyntheticDocs.corpusSize(tbl(s, dir, "documents").count())
      val expected = s.range(n)
        .map { i => val g = SyntheticDocs.generate(SyntheticDocs.CorpusSeed, i); Doc(g.raw.doc_id, g.expected) }
        .toDF()
      val ours = Pipeline.toDocsDF(Pipeline.extract(rawDocs(s, dir)))
      DocOps.verifyJoin(ours, expected)
        .groupBy(col("matches")).agg(count(lit(1)).as("n_docs"))
    }),
    // ------------------------------------------------ multimodal plumbing
    "q_media_features" -> ((s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.docDerivedMediaTable(tbl(s, dir, "documents"))).toDF()
        .select(col("doc_id").cast("long").as("doc_id"), col("media_ref"),
          col("mime_type"), col("byte_len"), col("width"), col("height"),
          col("channels"), col("mean_luma"), col("phash"))),
    "q_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.docDerivedMediaTable(tbl(s, dir, "documents")))
        .withColumn("doc_id", col("doc_id").cast("long"))),
    "q_media_resize" -> ((s, dir) => {
      // REAL javax.imageio decode → area-average downscale → REAL WebP
      // (VP8L) re-encode over per-doc synthesized PNGs (solid color,
      // deterministic dims); output dims are pure arithmetic, so the
      // oracle checks them exactly (payload exactness is pinned in
      // MultimodalSpec/WebpSpec via the lossless decoder)
      Multimodal.resizeImages(synthPngMedia(s, dir), maxDim = 64)
        .select(col("doc_id").cast("long").as("doc_id"), col("width"),
          col("height"), col("resized"))
    }),
    "q_pdf_info" -> ((s, dir) => {
      // byte-real get_pdf_info round-trip (same pattern as
      // q_audio_features): deterministic per-doc PDFs from the minimal
      // writer → full container parse (xref, page tree, Info dict) → facts
      // whose every value the oracle reproduces arithmetically
      // crypto coverage rides the same row: id%7==3 docs are locked with a
      // real password (parse w/o password → the reference's basic encrypted
      // shape; a slice of them AES-256/V5/R6), other id%5==2 docs are
      // empty-user-password (RC4-128 or AES-256/V5 on the id%7==1 slice;
      // must open FULLY — the pdf_utils.py:212-215 owner-locked case).
      // The oracle is revision-agnostic: locked vs open is all it sees.
      import s.implicits._
      val media = docIdsSpread(s, dir)
        .as[Long].map { id =>
          val n = 1 + (id % 5).toInt
          val w = 300.0 + (id % 200)
          val h = 400.0 + (id % 100)
          val encryptWith =
            if (id % 7 == 3) Some(("locked", if (id % 11 == 4) 6 else 3))
            else if (id % 5 == 2) Some(("", if (id % 7 == 1) 6 else 3))
            else None
          val bytes = graft.extract.PdfBytes.buildPdf(
            Seq.fill(n)((w, h)), s"doc-$id", s"author-${id % 7}", encryptWith)
          Multimodal.MediaRow(id.toString, "doc.pdf", "application/pdf", bytes)
        }
      Multimodal.extractPdfInfo(media)
        .select(col("doc_id").cast("long").as("doc_id"), col("page_count"),
          col("is_encrypted"), col("width0"), col("height0"), col("title"),
          col("author"), col("decode_error"))
    }),
    "q_pdf_pages" -> ((s, dir) => {
      // byte-level extract_pdf_pages: per-doc PDFs with per-page widths
      // (w = 300 + id%200 + pageIndex), keep the (last, first) pair via the
      // object-closure re-writer, reparse — the oracle recovers both
      // widths arithmetically. Locked/encrypted docs are exercised by
      // q_pdf_info; this drives the rewrite+reparse cycle.
      import s.implicits._
      docIdsSpread(s, dir)
        .as[Long].map { id =>
          val n = 1 + (id % 5).toInt
          val pages = (0 until n).map(i => (300.0 + (id % 200) + i, 400.0 + (id % 100)))
          val src = graft.extract.PdfBytes.buildPdf(pages, s"doc-$id", "a")
          val sub = graft.extract.PdfRewrite.extractPages(src, Seq(n - 1, 0))
            .fold(e => throw new IllegalStateException(e), identity)
          val info = graft.extract.PdfBytes.pdfInfo(sub)
            .fold(e => throw new IllegalStateException(e), identity)
          (id, info.pageCount, info.pageDims(0).width, info.pageDims(1).width,
            info.pageDims(0).height)
        }
        .toDF("doc_id", "page_count", "width0", "width1", "height0")
    }),
    "q_pdf_text" -> ((s, dir) => {
      // content-REAL PDF text extraction round-trip: per-doc PDFs whose
      // pages carry real Flate-compressed content streams (rotating
      // literal-Tj / hex-Tj / kerned-TJ show forms, Helvetica+WinAnsi) →
      // full content-stream interpretation (BT/ET, Td, font decode, line
      // assembly) → per-page text whose every character the oracle
      // reproduces arithmetically. EMBEDDED-FONT slices: id%8==1 builds
      // the subsetted-TrueType shape (codes meaningless without the font's
      // cmap+post; no /Encoding, no /ToUnicode), id%8==3 the
      // (3,1)-format-4 inverse-Unicode shape, id%8==5 the CFF/Type1C
      // shape (/FontFile3: encoding → charset → SID name → AGL), and
      // id%8==7 the original Type1 shape (/FontFile: cleartext dup-put
      // encoding) — same text, so the oracle is unchanged, but decode MUST
      // run the embedded chains. The REAL-world path is golden-locked in
      // PdfTextSpec against the reference fixtures via the independent
      // tools/pdf_text_oracle.py second implementation (which mirrors all
      // three chains in lockstep).
      import s.implicits._
      docIdsSpread(s, dir)
        .as[Long].flatMap { id =>
          val n = 1 + (id % 3).toInt
          val pages = (1 to n).map { p =>
            Seq(s"Doc $id page $p", s"Lorem body ${(id + p) % 10}", s"alpha beta-${id % 4}")
          }
          val bytes = (id % 8) match {
            case 1 => graft.extract.PdfText.buildTextPdfTT(pages, unicodeCmap = false)
            case 3 => graft.extract.PdfText.buildTextPdfTT(pages, unicodeCmap = true)
            case 5 => graft.extract.PdfText.buildTextPdfCFF(pages)
            case 7 => graft.extract.PdfText.buildTextPdfT1(pages)
            case _ => graft.extract.PdfText.buildTextPdf(pages)
          }
          val texts = graft.extract.PdfText.pageTexts(bytes)
            .fold(e => throw new IllegalStateException(e), identity)
          texts.zipWithIndex.map { case (t, i) => (id, i + 1, t) }
        }
        .toDF("doc_id", "page", "page_text")
    }),
    "q_docx" -> ((s, dir) => {
      // byte-level DOCX round-trip through the REAL ingestion route:
      // deterministic per-doc .docx (ZIP + WordprocessingML: heading,
      // body, 1-3 list items, a pipe table, a page break on even ids) →
      // Ingest.toRawDoc → Pipeline.extractOne → span stream whose every
      // field the oracle reproduces arithmetically
      route(s, dir) { id =>
        import graft.extract.DocxExtract._
        val listItems = (0 until (1 + (id % 3)).toInt).map(k => Para(s"- item-$k"))
        val blocks = Seq(
          Para(s"# Heading ${id % 7}"),
          Para(s"Body alpha ${(id * 3) % 11}")) ++ listItems ++ Seq(
          Table(s"|Lorem|Ipsum|\n|---|---|\n|${id % 9}|${id % 8}|")) ++
          (if (id % 2 == 0) Seq(PageBreak, Para(s"Second page text $id")) else Nil)
        Ingest.toRawDoc(s"d$id.docx", buildDocx(s"Doc $id", blocks))
      }.select(ByteCols: _*)
    }),
    "q_pptx" -> ((s, dir) => {
      // byte-level PPTX through the REAL ingestion route: 1-3 slides per
      // doc (title placeholder + one body paragraph each) → span stream
      // the oracle reproduces arithmetically
      route(s, dir) { id =>
        import graft.extract.OfficeExtract._
        val n = 1 + (id % 3).toInt
        val slides = (1 to n).map { p =>
          Slide(s"Slide ${id % 5}-$p", Seq(s"Point alpha ${(id + p) % 7}"))
        }
        Ingest.toRawDoc(s"d$id.pptx", buildPptx(s"Deck $id", slides))
      }.select(ByteCols: _*)
    }),
    "q_xlsx" -> ((s, dir) => {
      // byte-level XLSX through the REAL ingestion route: two sheets
      // (numeric + inline-string cells, sheet names from the workbook) →
      // heading + pipe-table spans the oracle reproduces arithmetically
      route(s, dir) { id =>
        import graft.extract.OfficeExtract._
        val sheets = Seq(
          ("Data", Seq(
            Seq("Name", "Value"),
            Seq(s"item-${id % 4}", s"${id % 9}"),
            Seq("thing", s"${id % 7}"))),
          ("Notes", Seq(Seq(s"note-${id % 3}"))))
        Ingest.toRawDoc(s"d$id.xlsx", buildXlsx(s"Book $id", sheets))
      }.select(ByteCols: _*)
    }),
    "q_epub" -> ((s, dir) => {
      // EPUB through the REAL ingestion route: OCF container → OPF spine →
      // per-chapter HtmlExtract; 1-3 chapters per doc, each an <h1> plus a
      // body paragraph the oracle reproduces arithmetically
      route(s, dir) { id =>
        val n = 1 + (id % 3).toInt
        val chapters = (1 to n).map { p =>
          s"<html><body><h1>Chapter ${id % 5}-$p</h1>" +
            s"<p>Alpha body text number ${(id + p) % 9} with enough plain words " +
            "to pass the content density classifier easily.</p></body></html>"
        }
        Ingest.toRawDoc(s"d$id.epub",
          graft.extract.EpubExtract.buildEpub(s"Novel $id", chapters))
      }.select(ByteCols: _*)
    }),
    "q_odt" -> ((s, dir) => {
      // ODT through the REAL ingestion route: heading + body + list item +
      // table per doc, every field arithmetic in doc_id
      route(s, dir) { id =>
        import graft.extract.DocxExtract.{Para, Table}
        val blocks = Seq(
          Para(s"# Doc $id heading"),
          Para(s"Body text ${(id * 5) % 13}"),
          Para(s"- entry-${id % 4}"),
          Table(s"|K|V|\n|---|---|\n|k${id % 3}|${id % 6}|"))
        Ingest.toRawDoc(s"d$id.odt", graft.extract.OdtExtract.buildOdt(s"Odt $id", blocks))
      }.select(ByteCols: _*)
    }),
    "q_rtf" -> ((s, dir) => {
      // RTF through the REAL ingestion route: control-word machine with a
      // decoy fonttbl, \info title, and a \page break on even ids
      route(s, dir) { id =>
        val paras = Seq(s"Rtf alpha ${id % 8}", s"Second ${(id + 3) % 5}")
        val breaks: Set[Int] = if (id % 2 == 0) Set(1) else Set.empty
        val rtf = graft.extract.RtfExtract.buildRtf(s"Rtf $id", paras, breaks)
        Ingest.toRawDoc(s"d$id.rtf", rtf.getBytes("ISO-8859-1"))
      }.select(ByteCols: _*)
    }),
    "q_doc" -> ((s, dir) => {
      // legacy Word binary through the REAL ingestion route: CFB container
      // ([MS-CFB] mini stream) + [MS-DOC] piece table with BOTH piece
      // decodings (CP-1252 + UTF-16LE), SummaryInformation title, a page
      // break before paragraph 2 on id%3==0
      route(s, dir) { id =>
        val paras = Seq(
          s"Doc legacy alpha ${id % 9}",
          s"Mid section ${(id * 3) % 7}",
          s"Tail words ${(id + 5) % 11}")
        val breaks = if (id % 3 == 0) Seq(2) else Nil
        Ingest.toRawDoc(s"d$id.doc",
          graft.extract.DocExtract.buildDoc(s"Word $id", paras, breaks))
      }.select(ByteCols: _*)
    }),
    "q_ppt" -> ((s, dir) => {
      // legacy PowerPoint binary through the REAL ingestion route (explicit
      // MIME, as the reference's convert(data, mime_type) call): [MS-PPT]
      // record tree, UTF-16 title atoms + low-byte body atoms per slide;
      // id%3==0 stores the text in SlideListWithText (the REAL-PowerPoint
      // placeholder shape) instead of inside the Slide drawings
      route(s, dir) { id =>
        val n = 1 + (id % 2).toInt
        val slides = (1 to n).map { p =>
          (s"Slide ${id % 6}-$p", Seq(s"Bullet ${(id + p) % 4}"))
        }
        val bytes = graft.extract.PptExtract.buildPpt(s"Deck $id", slides,
          viaSlideListWithText = id % 3 == 0)
        Ingest.toRawDoc(s"d$id.ppt", bytes, "application/vnd.ms-powerpoint")
      }.select(ByteCols: _*)
    }),
    "q_ods" -> ((s, dir) => {
      // ODS through the REAL ingestion route: ODF spreadsheet content.xml
      // with repeated-blank-column filler the parser must trim; one page
      // per sheet, XLSX-shaped pipe tables
      route(s, dir) { id =>
        val sheets = Seq(
          ("Data", Seq(Seq("K", "V"), Seq(s"k${id % 5}", s"${id % 7}"))),
          ("Extra", Seq(Seq(s"x${id % 3}"))))
        Ingest.toRawDoc(s"d$id.ods", graft.extract.OdsExtract.buildOds(s"Calc $id", sheets))
      }.select(ByteCols: _*)
    }),
    "q_bib" -> ((s, dir) => {
      // BibTeX through the REAL ingestion route: brace/quote/bare field
      // forms, author list, case-protection braces — all arithmetic
      route(s, dir) { id =>
        val bib =
          s"""@article{ref${id % 10}a,
             |  author = {Author ${id % 4} and Coauthor ${(id * 3) % 5}},
             |  title = {Study ${(id * 7) % 12} of {Things}},
             |  journal = {Journal ${id % 3}},
             |  year = ${1990 + (id % 30)}
             |}
             |@misc{ref${id % 10}b, title = "Note ${(id + 2) % 6}"}
             |""".stripMargin
        Ingest.toRawDoc(s"d$id.bib", bib.getBytes("UTF-8"))
      }.select("doc_id", "mime_type", "n_spans", "text_all")
    }),
    "q_tex" -> ((s, dir) => {
      // LaTeX through the REAL ingestion route: title/maketitle, section,
      // inline styles, itemize, figure (interleaved IMAGE span + caption),
      // tabular → pipe table, inline math passthrough — all arithmetic
      route(s, dir) { id =>
        val tex =
          raw"""\documentclass{article}
               |\title{Paper ${id % 6}}
               |\begin{document}
               |\maketitle
               |\section{Intro ${id % 4}}
               |Result is \textbf{${id % 8}} with \emph{margin} ${(id * 5) % 9}.
               |
               |\begin{itemize}
               |\item alpha ${id % 3}
               |\item beta ${(id + 1) % 3}
               |\end{itemize}
               |
               |\begin{figure}
               |\includegraphics{fig-${id % 2}.png}
               |\caption{Curve ${id % 7}}
               |\end{figure}
               |
               |\begin{tabular}{lr}
               |k & v \\
               |a & ${id % 5} \\
               |\end{tabular}
               |
               |Math $$x^{${id % 3}}$$ inline.
               |\end{document}
               |""".stripMargin // NB: $$ in the interpolator renders a single $
        Ingest.toRawDoc(s"d$id.tex", tex.getBytes("UTF-8"))
      }.select("doc_id", "mime_type", "n_spans", "kinds", "media_refs", "text_all")
    }),
    "q_ipynb" -> ((s, dir) => {
      // Jupyter notebooks through the REAL ingestion route: nbformat-4
      // JSON with a markdown cell, a python code cell (stream +
      // execute_result outputs), and — on ids % 3 == 0 — an error output
      // whose traceback carries real JSON-escaped ANSI color codes that
      // the extractor must strip
      route(s, dir) { id =>
        val escJ = "\\" + "u001b" // JSON escape for ESC, as notebooks carry it
        val err =
          if (id % 3 == 0)
            s""",{"output_type":"error","ename":"ValueError","evalue":"bad ${id % 4}",
               |   "traceback":["${escJ}[0;31mValueError${escJ}[0m: bad ${id % 4}"]}""".stripMargin
          else ""
        val json =
          s"""{"nbformat":4,"nbformat_minor":5,
             |  "metadata":{"language_info":{"name":"python"}},
             |  "cells":[
             |   {"cell_type":"markdown",
             |    "source":["# Notebook ${id % 7}\\n","\\n","Analysis of run ${(id * 3) % 11}."]},
             |   {"cell_type":"code",
             |    "source":["x = ${id % 9}\\n","print(x * 2)"],
             |    "outputs":[
             |     {"output_type":"stream","name":"stdout","text":["${(id % 9) * 2}\\n"]},
             |     {"output_type":"execute_result","data":{"text/plain":["${id % 5}"]}}$err]}]}""".stripMargin
        Ingest.toRawDoc(s"d$id.ipynb", json.getBytes("UTF-8"))
      }.select("doc_id", "mime_type", "page_count", "n_spans", "text_all")
    }),
    "q_rst" -> ((s, dir) => {
      // rST through the REAL ingestion route: section underlines become
      // docutils-leveled headings, a literal block fences, inline
      // ``literal`` converts — all arithmetic in doc_id
      route(s, dir) { id =>
        val rst =
          s"""Title ${id % 5}
             |====================
             |
             |Body paragraph ${(id * 2) % 9} with ``code`` inline
             |
             |Sub ${id % 3}
             |--------------------
             |
             |Closing words ${(id + 4) % 6}
             |""".stripMargin
        Ingest.toRawDoc(s"d$id.rst", rst.getBytes("UTF-8"))
      }.select("doc_id", "page_count", "n_spans", "text_all")
    }),
    "q_org" -> ((s, dir) => {
      // org-mode through the REAL ingestion route: #+TITLE keyword, star
      // headline with *bold* inline, an org table whose |---+---| rule
      // becomes the separator, and a #+BEGIN_SRC fence — arithmetic in
      // doc_id
      route(s, dir) { id =>
        val org =
          s"""#+TITLE: Notes ${id % 5}
             |
             |* Section ${(id * 2) % 9} with *bold* text
             |
             || k | v |
             ||---+---|
             || a | ${id % 7} |
             |
             |#+BEGIN_SRC scala
             |val n = ${id % 4}
             |#+END_SRC
             |""".stripMargin
        Ingest.toRawDoc(s"d$id.org", org.getBytes("UTF-8"))
      }.select("doc_id", "page_count", "n_spans", "text_all")
    }),
    "q_xls" -> ((s, dir) => {
      // the FULL Excel container family through the REAL ingestion route,
      // same cells and title in each so one oracle gates all four:
      // id%4==0 .xls ([MS-XLS] BIFF8, SST Continue-spilled mid-string),
      // id%4==1 .xlsb ([MS-XLSB] BIFF12 records in the OOXML ZIP),
      // id%4==2 .xlam (XLSX ZIP container, addin MIME),
      // id%4==3 .xla (BIFF8 again, SST spilled AT the char-data boundary).
      // RK integers (negative range), doubles (integral and fractional),
      // two sheets; title from SummaryInformation / core.xml
      import graft.extract.XlsExtract
      import graft.extract.XlsExtract.{XlsNum, XlsRkInt, XlsStr}
      route(s, dir) { id =>
        val sheets = Seq(
          ("Data", Seq(
            Seq[XlsExtract.XlsCell](XlsStr("Name"), XlsStr("Qty"), XlsStr("Price")),
            Seq[XlsExtract.XlsCell](XlsStr(s"item-${id % 7}"),
              XlsRkInt((id % 13).toInt - 3), XlsNum(id % 5 + 0.5)),
            Seq[XlsExtract.XlsCell](XlsStr(s"thing ${id % 4}"),
              XlsRkInt((id % 9).toInt), XlsNum((id % 3).toDouble)))),
          ("Notes", Seq(
            Seq[XlsExtract.XlsCell](XlsStr(s"nöte ${(id * 3) % 11}")))))
        val title = s"Ledger $id"
        val (ext, bytes) = (id % 4) match {
          case 0 => ("xls", XlsExtract.buildXls(title, sheets, continueSplit = true))
          case 1 => ("xlsb", graft.extract.XlsbExtract.buildXlsb(title, sheets))
          case 2 => ("xlam", graft.extract.OfficeExtract.buildXlsx(title,
            sheets.map { case (n, rows) => (n, rows.map(_.map {
              case XlsStr(v) => v
              case XlsRkInt(v) => v.toString
              case XlsNum(v) => XlsExtract.numText(v)
              case XlsExtract.XlsBool(v) => if (v) "TRUE" else "FALSE"
            })) }))
          case _ => ("xla", XlsExtract.buildXls(title, sheets, continueAtStart = true))
        }
        Ingest.toRawDoc(s"d$id.$ext", bytes)
      }.select(ByteCols: _*)
    }),
    "q_csv" -> ((s, dir) => {
      // delimited text through the REAL ingestion route — csv on even ids
      // (RFC 4180 quoting: embedded delimiter, doubled quotes), tsv on odd
      // (same cells unquoted) → the SAME pipe table either way
      route(s, dir) { id =>
        val cells = Seq(
          Seq("name", "qty", "note"),
          Seq(s"alpha ${id % 5}", s"${id % 7}", s"x, y ${id % 3}"),
          Seq("say \"hi\"", s"${(id * 2) % 9}", s"line${id % 4}"))
        val (ext, text) =
          if (id % 2 == 0) {
            def q(c: String) =
              if (c.contains(",") || c.contains("\""))
                "\"" + c.replace("\"", "\"\"") + "\""
              else c
            ("csv", cells.map(_.map(q).mkString(",")).mkString("", "\n", "\n"))
          } else ("tsv", cells.map(_.mkString("\t")).mkString("", "\n", "\n"))
        Ingest.toRawDoc(s"d$id.$ext", text.getBytes("UTF-8"))
      }.select("doc_id", "mime_type", "page_count", "n_spans", "text_all")
    }),
    "q_typst" -> ((s, dir) => {
      // Typst markup through the REAL ingestion route: = headings, inline
      // *bold*/_emph_, #image → standalone image span, bullet list, raw
      // fence, #link — arithmetic in doc_id (reference pandoc surface,
      // mime_types.py:98)
      route(s, dir) { id =>
        val typ =
          s"""= Doc ${id % 5}
             |== Part ${(id * 2) % 7}
             |Some *very* important _words_ ${(id + 1) % 4} here.
             |
             |#image("plot-${id % 3}.png")
             |
             |- alpha ${id % 6}
             |- beta
             |
             |```scala
             |val x = ${id % 9}
             |```
             |See #link("http://e.x")[docs ${id % 2}] now.
             |""".stripMargin
        Ingest.toRawDoc(s"d$id.typ", typ.getBytes("UTF-8"), "application/x-typst")
      }.select("doc_id", "mime_type", "n_spans", "kinds", "media_refs", "text_all")
    }),
    "q_man" -> ((s, dir) => {
      // manual pages through the REAL ingestion route — classic man(7)
      // macros on even ids (.TH/.SH/.TP, \fB..\fR fonts, .nf/.fi), BSD
      // mdoc(7) semantic macros on odd (.Dt/.Sh/.Nm/.Nd/.Ar/.Dl) —
      // arithmetic in doc_id (reference pandoc surface, mime_types.py:101,103)
      route(s, dir) { id =>
        val (ext, mime, src) =
          if (id % 2 == 0)
            ("1", "text/troff",
              s""".TH TOOL${id % 4} 1
                 |.SH NAME
                 |tool${id % 4} \\- does thing ${(id * 3) % 7}
                 |.SH DESCRIPTION
                 |Runs with \\fBbold ${id % 5}\\fR form.
                 |.TP
                 |.B \\-x
                 |Option ${(id + 2) % 6}.
                 |.nf
                 |code ${id % 3}
                 |.fi
                 |""".stripMargin)
          else
            ("mdoc", "text/x-mdoc",
              s""".Dd January 1, 2024
                 |.Dt TOOL${id % 4} 1
                 |.Os
                 |.Sh NAME
                 |.Nm tool${id % 4}
                 |.Nd does thing ${(id * 3) % 7}
                 |.Sh DESCRIPTION
                 |Runs with
                 |.Ar file
                 |operands ${id % 5}.
                 |.Dl make ${id % 3}
                 |""".stripMargin)
        Ingest.toRawDoc(s"d$id.$ext", src.getBytes("UTF-8"), mime)
      }.select("doc_id", "mime_type", "n_spans", "text_all")
    }),
    "q_dokuwiki" -> ((s, dir) => {
      // DokuWiki syntax through the REAL ingestion route: ====== headings,
      // //italic///''mono'', [[url|label]] links, a standalone {{media}}
      // block → image span, lists, <code lang> fence — arithmetic in
      // doc_id (reference pandoc surface, mime_types.py:103)
      route(s, dir) { id =>
        val doku =
          s"""====== Wiki ${id % 5} ======
             |===== Part ${(id * 2) % 7} =====
             |Some //italic ${id % 4}// and **bold** with ''mono ${id % 6}'' text.
             |Link [[http://a|site ${id % 3}]] here.
             |
             |{{ img-${id % 2}.png?200 |cap}}
             |
             |  * one ${(id + 3) % 8}
             |  * two
             |
             |<code python>
             |print(${id % 9})
             |</code>
             |""".stripMargin
        Ingest.toRawDoc(s"d$id.txt", doku.getBytes("UTF-8"), "text/x-dokuwiki")
      }.select("doc_id", "mime_type", "n_spans", "kinds", "media_refs", "text_all")
    }),
    "q_pod" -> ((s, dir) => {
      // Perl POD through the REAL ingestion route: =head1/=head2, B</C<
      // inline codes, E<lt> escapes, indented verbatim → fence, =over/
      // =item bullets, =cut terminator — arithmetic in doc_id (reference
      // pandoc surface, mime_types.py:110)
      route(s, dir) { id =>
        val pod =
          s"""=pod
             |
             |=head1 Tool ${id % 5}
             |
             |Runs B<fast ${id % 4}> with C<cmd --${id % 7}>.
             |Compare 1 E<lt> ${(id + 2) % 9}.
             |
             |    $$ tool --run ${id % 3}
             |
             |=over 4
             |
             |=item *
             |
             |First choice ${(id * 2) % 11}.
             |
             |=item *
             |
             |Second choice.
             |
             |=back
             |
             |=head2 Options ${id % 6}
             |
             |=cut
             |
             |ignored after cut
             |""".stripMargin
        Ingest.toRawDoc(s"d$id.pod", pod.getBytes("UTF-8"), "text/x-pod")
      }.select("doc_id", "mime_type", "n_spans", "text_all")
    }),
    "q_fb2" -> ((s, dir) => {
      // FictionBook 2 through the REAL ingestion route: book-title from
      // description, body/section title nesting, emphasis inline, cite →
      // blockquote, image → image span — arithmetic in doc_id (reference
      // pandoc surface, mime_types.py — application/x-fictionbook+xml)
      route(s, dir) { id =>
        val fb2 =
          s"""<FictionBook xmlns="http://www.gribuser.ru/xml/fictionbook/2.0"
             |             xmlns:l="http://www.w3.org/1999/xlink">
             |<description><title-info><book-title>Book ${id % 5}</book-title></title-info></description>
             |<body>
             | <title><p>Volume ${(id % 3) + 1}</p></title>
             | <section>
             |  <title><p>Chapter ${(id * 2) % 9}</p></title>
             |  <p>It was <emphasis>a</emphasis> night ${id % 4}.</p>
             |  <cite><p>Quote ${(id + 5) % 7}.</p></cite>
             |  <image l:href="#pic${id % 2}.png"/>
             | </section>
             |</body>
             |</FictionBook>""".stripMargin
        Ingest.toRawDoc(s"d$id.fb2", fb2.getBytes("UTF-8"), "application/x-fictionbook+xml")
      }.select("doc_id", "mime_type", "n_spans", "kinds", "media_refs", "text_all")
    }),
    "q_jats" -> ((s, dir) => {
      // JATS article XML through the REAL ingestion route: front-matter
      // title + abstract, sec nesting, monospace inline, ordered list,
      // fig/graphic → image span + caption — arithmetic in doc_id
      // (reference pandoc surface, mime_types.py:94)
      route(s, dir) { id =>
        val jats =
          s"""<article xmlns:xlink="http://www.w3.org/1999/xlink">
             | <front><article-meta><title-group><article-title>Paper ${id % 6}</article-title></title-group>
             |  <abstract><p>We study ${id % 4} things.</p></abstract></article-meta></front>
             | <body>
             |  <sec><title>Methods ${(id * 3) % 8}</title>
             |   <p>Use <monospace>cmd-${id % 5}</monospace> now.</p>
             |   <list list-type="order"><list-item><p>first ${id % 3}</p></list-item>
             |     <list-item><p>second</p></list-item></list>
             |  </sec>
             |  <fig><graphic xlink:href="f${id % 2}.png"/><caption><p>Figure ${(id + 1) % 7}.</p></caption></fig>
             | </body>
             |</article>""".stripMargin
        Ingest.toRawDoc(s"d$id.xml", jats.getBytes("UTF-8"), "application/x-jats+xml")
      }.select("doc_id", "mime_type", "n_spans", "kinds", "media_refs", "text_all")
    }),
    "q_opml" -> ((s, dir) => {
      // OPML outlines through the REAL ingestion route: head title →
      // heading, nested outline elements → nested list, xmlUrl → link,
      // _note suffix — arithmetic in doc_id (reference pandoc surface,
      // mime_types.py:96)
      route(s, dir) { id =>
        val opml =
          s"""<opml version="2.0">
             | <head><title>Plans ${id % 5}</title></head>
             | <body>
             |  <outline text="Top ${(id * 2) % 7}">
             |   <outline text="Sub ${id % 4}"/>
             |   <outline text="Feed" xmlUrl="http://f/${id % 3}"/>
             |  </outline>
             |  <outline text="Item ${(id + 4) % 9}" _note="note ${id % 6}"/>
             | </body>
             |</opml>""".stripMargin
        Ingest.toRawDoc(s"d$id.opml", opml.getBytes("UTF-8"), "application/x-opml+xml")
      }.select("doc_id", "mime_type", "n_spans", "text_all")
    }),
    "q_refs" -> ((s, dir) => {
      // the remaining bibliography dialects through the REAL ingestion
      // route, SAME logical records in each so one oracle gates all three:
      // id%3==0 RIS line-tags, ==1 CSL-JSON, ==2 EndNote XML — all
      // normalize into BibtexExtract.render's shared reference-list line,
      // differing only in the kind vocabulary and id slot
      route(s, dir) { id =>
        val y = 1980 + (id % 40)
        val (m, j, k, p) = (id % 9, id % 4, id % 10, (id + 1) % 6)
        val (ext, mime, src) = (id % 3) match {
          case 0 => ("ris", "application/x-research-info-systems",
            s"""TY  - JOUR
               |AU  - Knuth, Donald E.
               |TI  - Study $m
               |JO  - Journal $j
               |PY  - $y
               |ID  - r$k
               |ER  -
               |TY  - BOOK
               |TI  - Note $p
               |ER  -
               |""".stripMargin)
          case 1 => ("json", "application/csl+json",
            s"""[{"id":"r$k","type":"article-journal",
               |  "author":[{"family":"Knuth","given":"Donald E."}],
               |  "issued":{"date-parts":[[$y,1,1]]},
               |  "title":"Study $m","container-title":"Journal $j"},
               | {"type":"book","title":"Note $p"}]""".stripMargin)
          case _ => ("xml", "application/x-endnote+xml",
            s"""<xml><records>
               |<record>
               | <rec-number>$k</rec-number>
               | <ref-type name="Journal Article">17</ref-type>
               | <contributors><authors><author><style>Knuth, Donald E.</style></author></authors></contributors>
               | <titles><title><style>Study $m</style></title></titles>
               | <periodical><full-title><style>Journal $j</style></full-title></periodical>
               | <dates><year><style>$y</style></year></dates>
               |</record>
               |<record>
               | <ref-type name="Book">6</ref-type>
               | <titles><title><style>Note $p</style></title></titles>
               |</record>
               |</records></xml>""".stripMargin)
        }
        Ingest.toRawDoc(s"d$id.$ext", src.getBytes("UTF-8"), mime)
      }.select("doc_id", "mime_type", "n_spans", "text_all")
    }),
    "q_docbook" -> ((s, dir) => {
      // DocBook XML through the REAL ingestion route: info-wrapped title,
      // section → heading, emphasis/role=bold inline, programlisting →
      // fence, itemizedlist, mediaobject/imagedata → image span —
      // arithmetic in doc_id (reference pandoc surface, mime_types.py:84)
      route(s, dir) { id =>
        val xml =
          s"""<article>
             |  <info><title>Guide ${id % 5}</title></info>
             |  <section>
             |    <title>Intro ${(id * 2) % 7}</title>
             |    <para>Hello <emphasis>world ${id % 4}</emphasis> and
             |      <emphasis role="bold">bold</emphasis> text.</para>
             |    <programlisting language="scala">val x = ${id % 9}</programlisting>
             |    <itemizedlist>
             |      <listitem><para>first ${id % 3}</para></listitem>
             |      <listitem><para>second</para></listitem>
             |    </itemizedlist>
             |    <mediaobject><imageobject><imagedata fileref="fig${id % 2}.png"/></imageobject></mediaobject>
             |  </section>
             |</article>""".stripMargin
        Ingest.toRawDoc(s"d$id.xml", xml.getBytes("UTF-8"), "application/docbook+xml")
      }.select("doc_id", "mime_type", "n_spans", "kinds", "media_refs", "text_all")
    }),
    "q_boilerplate" -> ((s, dir) => {
      // CCNet-style corpus-level boilerplate-paragraph removal: every doc
      // carries a universal header (df = N), a shared promo block
      // (df ≈ N/3), and two unique paragraphs; with maxDocFreq=10 the
      // first two vanish corpus-wide and the unique text survives in
      // order — the oracle reconstructs the survivors arithmetically
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          val paras = Seq(
            "common header boilerplate",
            s"unique body $id alpha",
            s"promo block ${id % 3}",
            s"unique tail ${(id * 7) % 11} of $id")
          (id, paras.mkString("\n\n"))
        }.toDF("doc_id", "text")
      graft.ops.TextAnalysis.removeBoilerplateParagraphs(docs, maxDocFreq = 10)
        .select(col("doc_id"), col("clean_text"))
    }),
    "q_pii" -> ((s, dir) => {
      // Dolma-style PII scrub: every doc embeds an email, a NANP phone,
      // and an IPv4 literal (ids % 3 == 0 add a second email); the REAL
      // scrubPii + withPiiCounts run and the oracle reconstructs the
      // masked text and counts arithmetically — no regex in the oracle
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          val extra = if (id % 3 == 0) s" cc jane${id % 7}@mail${id % 4}.org" else ""
          val text = s"Contact bob${id % 7}@mail${id % 4}.com$extra " +
            s"or (55${id % 10}) ${100 + id % 900}-${1000 + id % 9000} " +
            s"from 10.${id % 256}.${(id * 3) % 256}.${(id * 7) % 256} today."
          (id, text)
        }.toDF("doc_id", "text")
      graft.ops.TextAnalysis.withPiiCounts(docs)
        .withColumn("clean", graft.ops.TextAnalysis.scrubPii(col("text")))
        .select(col("doc_id"), col("clean"),
          col("n_emails"), col("n_phones"), col("n_ips"))
    }),
    "q_gopher" -> ((s, dir) => {
      // Gopher repetition signals over a 4-6 line doc (line count, dup
      // line when id%2==0, a second dup pair when id%3==2, one bullet
      // line, one ellipsis line); fractions are single IEEE divisions the
      // oracle replays exactly
      import s.implicits._
      graft.ops.TextAnalysis.withRepetitionSignals(gopherDocs(s, dir))
        .select(col("doc_id"), col("n_lines"), col("dup_line_frac"),
          col("top_line_frac"), col("bullet_line_frac"),
          col("ellipsis_line_frac"))
    }),
    "q_gopher_filter" -> ((s, dir) => {
      // the repetition GATE over the same corpus: caps (0.2, 0.3, 0.9,
      // 0.3) keep exactly the odd ids with 4 or 5 lines — the even ids
      // die on dup-line, the 6-line odd ids on top-line
      import s.implicits._
      graft.ops.TextAnalysis.gopherRepetitionFilter(gopherDocs(s, dir),
          maxDupLineFrac = 0.2, maxTopLineFrac = 0.3,
          maxBulletFrac = 0.9, maxEllipsisFrac = 0.3)
        .select(col("doc_id"), col("n_lines"), col("dup_line_frac"),
          col("top_line_frac"))
    }),
    "q_sample" -> ((s, dir) => {
      // deterministic content-hash sampling over the REAL documents
      // table: keep sha256(text) hex-prefix < '29' (≈16%) — reproducible
      // across runs and cluster sizes, oracle = the same predicate in
      // DuckDB's sha256
      graft.ops.TextAnalysis.sampleByContentHash(
          tbl(s, dir, "documents"), keepHexBelow = "29")
        .select(col("doc_id"), col("n_chars"))
    }),
    "q_compose" -> ((s, dir) => {
      // the COMPOSED web-pipeline: broadcast URL-blocklist anti-join →
      // PII scrub → Gopher repetition gate, all ONE Catalyst plan. Even
      // ids die on dup-line, blocked domains (id%10 < 3) never reach the
      // text stages; survivors are odd ids with id%10 >= 3
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          val line1 = s"Contact bob${id % 7}@mail${id % 4}.com now"
          val lines = Seq(
            line1,
            if (id % 2 == 0) line1 else s"beta ${id % 7}",
            s"- bullet ${id % 4}",
            s"tail ${id % 6}...")
          (id, s"https://www${id % 3}.site${id % 10}.com/p/$id",
            lines.mkString("\n"))
        }.toDF("doc_id", "url", "text")
      val blocklist = Seq("site0.com", "site1.com", "site2.com").toDF("domain")
      val unblocked = graft.ops.WebOps.filterBlockedDomains(docs, blocklist)
        .withColumn("text", graft.ops.TextAnalysis.scrubPii(col("text")))
      graft.ops.TextAnalysis.gopherRepetitionFilter(unblocked,
          maxDupLineFrac = 0.2, maxTopLineFrac = 0.3,
          maxBulletFrac = 0.9, maxEllipsisFrac = 0.3)
        .select(col("doc_id"), col("domain"), col("text"),
          col("dup_line_frac"))
    }),
    "q_dupwindows" -> ((s, dir) => {
      // exact-substring (k-token window) duplication fraction: even ids
      // share a 6-token run (c0..c5) plus two unique tokens → 5 windows
      // of which the 3 fully-shared ones are corpus-duplicated (3/5);
      // odd ids are 4 unique tokens → one unique window (0/1)
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          val text =
            if (id % 2 == 0) s"c0 c1 c2 c3 c4 c5 x$id y$id"
            else s"a$id b$id c$id d$id"
          (id, text)
        }.toDF("doc_id", "text")
      graft.ops.Dedup.withDuplicateWindowFraction(docs, k = 4)
        .select(col("doc_id"), col("n_windows"), col("dup_window_frac"))
    }),
    "q_urls" -> ((s, dir) => {
      // URL/domain hygiene: host + registered-domain extraction and a
      // BROADCAST blocklist anti-join (RefinedWeb/C4's first stage) —
      // domains site0-2.com are blocked, so survivors are id%10 >= 3
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          (id, s"https://www${id % 3}.site${id % 10}.com/p/$id?ref=${id % 5}")
        }.toDF("doc_id", "url")
      val blocklist = Seq("site0.com", "site1.com", "site2.com").toDF("domain")
      graft.ops.WebOps.filterBlockedDomains(docs, blocklist)
        .select(col("doc_id"), col("url"), col("host"), col("domain"))
    }),
    "q_pdf_images" -> ((s, dir) => {
      // PDF image SIDECAR extraction: deterministic per-doc PDFs embed
      // DCTDecode image XObjects (passthrough: the payload IS the file) →
      // full ingestion route → one row per extracted media item whose md5
      // the oracle recomputes. The REAL-fixture JPEG path is golden-locked
      // in PdfTextSpec (byte length + JFIF header + dims).
      import s.implicits._
      docIdsSpread(s, dir)
        .as[Long].flatMap { id =>
          val n = 1 + (id % 3).toInt
          val imgs: Seq[Seq[(Array[Byte], Int, Int)]] = (1 to n).map { p =>
            if (p == 1)
              Seq((s"JPEGDATA-$id-0".getBytes("ISO-8859-1"), 64, 48))
            else if (p == 2 && id % 2 == 0)
              Seq((s"JPEGDATA-$id-1".getBytes("ISO-8859-1"), 32, 24))
            else Nil
          }
          val pages = (1 to n).map(p => Seq(s"Page $p text"))
          val bytes = graft.extract.PdfText.buildTextPdf(pages, compress = true, imgs)
          val out = graft.pipeline.Pipeline.extractOne(
            graft.io.Ingest.toRawDoc(s"d$id.pdf", bytes))
          require(out.failure.isEmpty, out.failure)
          out.media.map { m =>
            val md5 = java.security.MessageDigest.getInstance("MD5")
              .digest(m.content).map(b => f"${b & 0xff}%02x").mkString
            (id, m.media_ref, m.mime_type, m.content.length, md5)
          }
        }
        .toDF("doc_id", "media_ref", "mime_type", "payload_len", "payload_md5")
    }),
    "q_export_json" -> ((s, dir) => {
      // the reference API's JSON response (routes.py:55-64: the converted
      // Document serialized with image content base64-inlined) as a sink
      // projection: one compact JSON document per media row, byte-identical
      // to the DuckDB json_object oracle (all fields ASCII by construction
      // — docPayload squashes non-ASCII — so engine escaping agrees)
      Multimodal.docDerivedMediaTable(tbl(s, dir, "documents")).toDF()
        .select(col("doc_id").cast("long").as("doc_id"), col("media_ref"),
          to_json(struct(col("doc_id").cast("long").as("doc_id"),
            col("media_ref"), col("mime_type"),
            base64(col("content")).as("content_b64"))).as("doc_json"))
    }),
    "q_media_minsize" -> ((s, dir) => {
      // image_min_size filter over the same REAL PNGs: header-only dims
      // (no raster decode), keep images whose short side >= 40. The dims
      // are arithmetic in doc_id, so the oracle reproduces the selection
      // set exactly: h = 20 + id%50 >= 40 AND w = 30 + id%100 >= 40.
      import s.implicits._
      Multimodal.filterMinSize(synthPngMedia(s, dir), minSize = 40)
        .map(r => (r.doc_id.toLong, r.media_ref))
        .toDF("doc_id", "media_ref")
    }),
    "q_audio_features" -> ((s, dir) => {
      // REAL WAV round-trip: deterministic integer-PCM per doc → WAVE
      // encode (javax.sound) → container+signal decode → features whose
      // integer accumulators the oracle reproduces exactly (Multimodal
      // .WavCodec scaladoc).
      // NOT docIdsSpread: javax.sound's AudioSystem provider registry is a
      // JVM-global synchronized lookup, so 32 concurrent tasks contend —
      // measured 0.88 s single-task vs 1.76 s spread (BenchExtra, sf0.1)
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          val n = (400 + (id % 10) * 40).toInt
          val samples = Array.tabulate(n)(i =>
            (((i.toLong * 2654435761L + id) % 65536L) - 32768L).toShort)
          Multimodal.MediaRow(id.toString, "aud-0.wav", "audio/x-wav",
            Multimodal.WavCodec.encodeWav(samples, sampleRate = 8000))
        }
      Multimodal.extractAudioFeatures(media)
        .select(col("doc_id").cast("long").as("doc_id"), col("sample_rate"),
          col("channels"), col("n_frames"), col("duration_ms"),
          col("rms"), col("peak"))
    }),
    "q_media_table" -> ((s, dir) => {
      // the REAL extraction sidecar: (doc_id, media_ref, mime_type, content)
      // projected from the docs table's media column; summarized per mime.
      // No SQL oracle (input is the synthetic corpus) — payloads are golden-
      // verified in MediaSidecarSpec instead.
      val docs = Pipeline.toDocsDF(Pipeline.extract(rawDocs(s, dir)))
      Pipeline.toMediaDF(docs)
        .groupBy(col("mime_type"))
        .agg(count(lit(1)).as("n_media"),
          sum(when(length(col("content")) > 0, 1).otherwise(0)).as("n_with_payload"),
          sum(length(col("content"))).as("total_bytes"))
    }))

  /** Directory holding the generator-truth parquet side tables
    * ([[graft.io.ExpectedTables]]). `graft.Verify` materializes them per run
    * and points this property at the result before dumping oracle_sql.json,
    * so the dumped SQL embeds the real path for the driver's DuckDB session.
    */
  def expectedDir: String = sys.props.getOrElse("graft.expected.dir",
    s"${sys.props("java.io.tmpdir")}/graft_expected_default")

  private def espans = s"'$expectedDir/expected_spans/*.parquet'"
  private def edocs = s"'$expectedDir/expected_docs/*.parquet'"
  private def echunks = s"'$expectedDir/expected_chunks/*.parquet'"
  private def ebounds = s"'$expectedDir/expected_boundaries/*.parquet'"
  private def etchunks = s"'$expectedDir/expected_token_chunks/*.parquet'"

  /** DuckDB-runnable oracles, column-aligned with the Spark results. The
    * span-pipeline oracles read the generator-truth side tables (the
    * relational form of the reference's snapshot compare,
    * tests/test_output.py:38-49); everything else reads the sf tables.
    */
  /** Shared by q_minhash_pairs and q_dedup_clusters (which wraps it in a
    * recursive-CTE component computation).
    */
  private def minhashPairsSql: String =
    s"""WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws)-1)]) AS shs
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g')), '\\s+') AS ws
        |        FROM documents WHERE doc_id < 500)
        |), hashed AS (
        |  SELECT doc_id, [${h60Sql("s")} FOR s IN shs] AS hs
        |  FROM sh WHERE len(shs) > 0
        |), sigs AS (
        |  SELECT doc_id,
        |    [list_min([((h % 2147483647) * (${h60Sql("'minhash-a-' || j")} % 2147483646 + 1)
        |        + ${h60Sql("'minhash-b-' || j")} % 2147483647) % 2147483647 FOR h IN hs])
        |     FOR j IN range(0, 32)] AS sig
        |  FROM hashed
        |), banded AS (
        |  SELECT doc_id, b, array_to_string(sig[4*b+1 : 4*b+4], '_') AS band_key
        |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 8)) AS b)
        |), cand AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |  FROM banded l JOIN banded r ON l.b = r.b AND l.band_key = r.band_key AND l.doc_id < r.doc_id
        |), inv AS (
        |  SELECT doc_id, len(dh) AS n_h, unnest(dh) AS h
        |  FROM (SELECT doc_id, list_distinct(hs) AS dh FROM hashed)
        |)
        |SELECT id_a, id_b,
        |  round(count(*) / CAST(any_value(a.n_h) + any_value(b.n_h) - count(*) AS DOUBLE), 6) AS jaccard
        |FROM cand c JOIN inv a ON a.doc_id = c.id_a
        |            JOIN inv b ON b.doc_id = c.id_b AND b.h = a.h
        |GROUP BY 1, 2
        |HAVING round(count(*) / CAST(any_value(a.n_h) + any_value(b.n_h) - count(*) AS DOUBLE), 6) >= 0.15""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // ------------------------------------------------------------------
    // Span-pipeline oracles over the generator-truth tables
    // ------------------------------------------------------------------
    "pipeline_extract" ->
      s"""SELECT d.doc_id, d.mime_type,
        |  CAST(greatest(count(*) FILTER (WHERE s.kind = 'page_break'), 1) AS INT) AS page_count,
        |  CAST(count(*) AS INT) AS n_spans
        |FROM $espans s JOIN $edocs d USING (doc_id)
        |GROUP BY 1, 2""".stripMargin,
    "pipeline_assemble" ->
      s"""SELECT doc_id, CAST(count(*) AS INT) AS n_spans
        |FROM $espans GROUP BY 1""".stripMargin,
    "pipeline_renumber" ->
      s"""SELECT doc_id, count(*) AS n_pages
        |FROM $espans WHERE kind = 'page_break' GROUP BY 1""".stripMargin,
    "pipeline_page_filter" ->
      s"""WITH p AS (
        |  SELECT doc_id,
        |    greatest(sum(CASE WHEN kind = 'page_break' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY "offset"
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1) AS page_no
        |  FROM $espans)
        |SELECT doc_id, count(*) AS n_spans_p12 FROM p
        |WHERE page_no IN (1, 2) GROUP BY 1""".stripMargin,
    "q_stream_extract" ->
      s"""SELECT doc_id,
        |  CAST(greatest(count(*) FILTER (WHERE kind = 'page_break'), 1) AS INT) AS page_count,
        |  CAST(count(*) AS INT) AS n_spans
        |FROM $espans GROUP BY 1""".stripMargin,
    "pipeline_lineage" ->
      s"""SELECT count(DISTINCT doc_id) AS docs, count(*) AS spans,
        |  CAST(0 AS BIGINT) AS failures
        |FROM $espans""".stripMargin,
    "pipeline_chunks" ->
      s"SELECT doc_id, n_chunks, n_media FROM $echunks",
    "pipeline_chunk_boundaries" ->
      s"SELECT doc_id, n_chunks, n_boundaries FROM $ebounds",
    "q_chunk_tokens" ->
      s"""SELECT doc_id, chunk_index, start_line, end_line, token_count, content_len
        |FROM $etchunks""".stripMargin,
    "q_verify_join" ->
      s"""SELECT TRUE AS matches, count(DISTINCT doc_id) AS n_docs
        |FROM $espans""".stripMargin,
    "q_media_table" ->
      // every generator dialect's sidecar images are image/png; only the
      // md_datauri docs embed payload bytes (docId || '-image-bytes')
      s"""WITH img AS (
        |  SELECT s.doc_id, d.payload_kind
        |  FROM $espans s JOIN $edocs d USING (doc_id)
        |  WHERE s.kind = 'image')
        |SELECT 'image/png' AS mime_type, count(*) AS n_media,
        |  CAST(count(*) FILTER (WHERE payload_kind = 'md_datauri') AS BIGINT) AS n_with_payload,
        |  CAST(sum(CASE WHEN payload_kind = 'md_datauri'
        |                THEN length(doc_id) + 12 ELSE 0 END) AS BIGINT) AS total_bytes
        |FROM img""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q_join_topn" ->
      """SELECT c_custkey, c_mktsegment,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_spend,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY total_spend DESC, c_custkey LIMIT 20""".stripMargin,
    "q_antijoin" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)""".stripMargin,
    "q_topk_sort" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 25""".stripMargin,
    "q_events_window" ->
      """SELECT user_id, event_id,
        |  CAST(row_number() OVER w AS INT) AS event_rank,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))) OVER w, 2) AS DOUBLE) AS running_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_events_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session,
        |    ts, event_id
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, value,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS session_value
        |FROM s GROUP BY 1, 2""".stripMargin,
    "q_events_stream" ->
      // Spark's window() aligns tumbling windows to the unix epoch, so the
      // bucket start is floor(epoch/300)*300; decimal sum for exactness
      """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
        |  event_type, count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS INT) END AS n_tokens
        |FROM documents""".stripMargin,
    "q_quality" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS INT) END AS n_tokens,
        |  round(length(regexp_replace(text, '[^\p{L}]', '', 'g')) / greatest(CAST(length(text) AS DOUBLE), 1.0), 4) AS alpha_ratio,
        |  round(length(regexp_replace(text, '[^.,;:!?''"()\-]', '', 'g')) / greatest(CAST(length(text) AS DOUBLE), 1.0), 4) AS punct_ratio,
        |  round(length(regexp_replace(text, '\s+', '', 'g')) /
        |    greatest(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE), 1.0), 4) AS mean_word_len
        |FROM documents""".stripMargin,
    "q_langid" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '(?i)\b(the|and|of|to|in|is|that|it|was|for)\b')) AS INT) AS hits_en,
        |    CAST(len(regexp_extract_all(text, '(?i)\b(der|die|und|das|ist|nicht|ein|mit|auf|sich)\b')) AS INT) AS hits_de,
        |    CAST(len(regexp_extract_all(text, '(?i)\b(le|la|les|des|est|dans|que|une|pour|qui)\b')) AS INT) AS hits_fr,
        |    CAST(len(regexp_extract_all(text, '(?i)\b(el|la|los|las|es|que|una|para|con|por)\b')) AS INT) AS hits_es
        |  FROM documents)
        |SELECT doc_id, hits_en, hits_de, hits_fr, hits_es,
        |  CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
        |       WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
        |       WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
        |       WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM h""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      [CAST(ascii(s[i]) AS BIGINT) FOR i IN generate_series(1, length(s))]),
        |    (h, c) -> (h * 31 + c) % 2147483647) AS fp
        |FROM (SELECT doc_id,
        |        substring(regexp_replace(lower(text), '\s+', ' ', 'g'), 1, 256) AS s
        |      FROM documents)""".stripMargin,
    "q_dedup_exact" ->
      """SELECT sha256(text) AS content_hash, min(doc_id) AS canonical_id,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,
    "q_stream_dedup" ->
      // survivor-invariant projection of the streaming dedup (see queries)
      """SELECT DISTINCT sha256(text) AS content_hash,
        |  CAST(length(text) AS INT) AS n_chars
        |FROM documents""".stripMargin,
    "q_dedup_survivors" ->
      """SELECT doc_id, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1""".stripMargin,
    "q_training_filter" ->
      """WITH surv AS (
        |  SELECT doc_id, text FROM documents
        |  QUALIFY row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1
        |), q AS (
        |  SELECT doc_id, text,
        |    greatest(least(
        |      (length(regexp_replace(text, '[^\p{L}]', '', 'g')) / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.7
        |      + least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3, 1.0), 0.0) AS quality,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS INT) END AS n_tokens
        |  FROM surv
        |), h AS (
        |  SELECT doc_id, quality, n_tokens,
        |    CAST(len(regexp_extract_all(text, '(?i)\b(the|and|of|to|in|is|that|it|was|for)\b')) AS INT) AS hits_en,
        |    CAST(len(regexp_extract_all(text, '(?i)\b(der|die|und|das|ist|nicht|ein|mit|auf|sich)\b')) AS INT) AS hits_de,
        |    CAST(len(regexp_extract_all(text, '(?i)\b(le|la|les|des|est|dans|que|une|pour|qui)\b')) AS INT) AS hits_fr,
        |    CAST(len(regexp_extract_all(text, '(?i)\b(el|la|los|las|es|que|una|para|con|por)\b')) AS INT) AS hits_es
        |  FROM q
        |)
        |SELECT doc_id, quality, n_tokens FROM h
        |WHERE quality >= 0.5 AND n_tokens >= 20
        |  AND CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
        |       WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
        |       WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
        |       WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
        |       ELSE 'fr' END = 'en'""".stripMargin,
    "q_subword_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\p{L}{1,4}|\p{N}+|[^\p{L}\p{N}\s]')) AS INT) AS n_subwords
        |FROM documents""".stripMargin,
    "q_quality_score" ->
      """SELECT doc_id,
        |  greatest(least(
        |    (length(regexp_replace(text, '[^\p{L}]', '', 'g')) / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.7
        |    + least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3, 1.0), 0.0) AS quality
        |FROM documents""".stripMargin,
    "q_jaccard_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws)-1)]) AS shs
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+') AS ws
        |        FROM documents WHERE doc_id < 500)
        |), inv0 AS (
        |  SELECT doc_id, unnest(shs) AS shingle FROM sh WHERE len(shs) > 0
        |), inv1 AS (
        |  SELECT doc_id, shingle FROM inv0
        |  WHERE shingle NOT IN (SELECT shingle FROM inv0 GROUP BY 1 HAVING count(*) > 50)
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n_sh FROM inv1 GROUP BY 1
        |), inv AS (
        |  SELECT inv1.doc_id, sizes.n_sh, inv1.shingle FROM inv1 JOIN sizes USING (doc_id)
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(count(*) / (CAST(a.n_sh + b.n_sh - count(*) AS DOUBLE)), 6) AS jaccard
        |FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |GROUP BY 1, 2, a.n_sh, b.n_sh
        |HAVING round(count(*) / (CAST(a.n_sh + b.n_sh - count(*) AS DOUBLE)), 6) >= 0.18""".stripMargin,
    "q_numbered_lines" ->
      """SELECT doc_id,
        |  CAST(unnest(generate_series(1, len(string_split_regex(text, '\n')))) - 1 AS INT) AS line_idx,
        |  printf('%5d | %s',
        |    unnest(generate_series(1, len(string_split_regex(text, '\n')))),
        |    unnest(string_split_regex(text, '\n'))) AS numbered
        |FROM documents WHERE doc_id < 20""".stripMargin,
    "q_cost" ->
      """SELECT doc_id,
        |  ['azure','upstage','llamaparse','datalab'][CAST(doc_id % 4 + 1 AS INT)] AS provider,
        |  CAST(floor(n_chars / 500) + 1 AS INT) AS page_count,
        |  round(CASE ['azure','upstage','llamaparse','datalab'][CAST(doc_id % 4 + 1 AS INT)]
        |          WHEN 'azure' THEN 0.00958 WHEN 'upstage' THEN 0.01
        |          WHEN 'llamaparse' THEN 0.0045 WHEN 'datalab' THEN 0.0015 END
        |        * CAST(floor(n_chars / 500) + 1 AS INT), 6) AS cost_usd
        |FROM documents""".stripMargin,
    "q_ingest" ->
      """SELECT printf('d%06d.md', doc_id) AS rel_path,
        |  'md_plain' AS payload_kind,
        |  CAST(length(text) AS INT) AS n_chars
        |FROM documents WHERE doc_id < 500""".stripMargin,
    "q_glob_filter" ->
      // selection logic reproduced arithmetically (no regex dependence):
      // include data/**/f* matches all; exclude **/sub/** kills odd ids;
      // depth = '/'-count <= 3 always holds; MIME keeps pdf/html, drops log
      """SELECT doc_id,
        |  'data/' || source || '/f' || doc_id ||
        |    ['.pdf', '.html', '.log'][CAST(doc_id % 3 + 1 AS INT)] AS path
        |FROM documents
        |WHERE doc_id % 2 = 0 AND doc_id % 3 <> 2""".stripMargin,
    "q_mime_guess" ->
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'application/pdf' WHEN 1 THEN 'text/html'
        |       WHEN 2 THEN 'image/png' ELSE 'application/octet-stream' END AS mime
        |FROM documents""".stripMargin,
    "q_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 20),
        |     c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv
        |           FROM embeddings),
        |     scored AS (
        |       SELECT query_id, corpus_id,
        |         round(list_cosine_similarity(qv, cv), 6) AS cosine
        |       FROM q JOIN c ON corpus_id <> query_id)
        |SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, cosine FROM (
        |  SELECT query_id, corpus_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin,
    // ------------------------------------------------------------------
    // Portable-sketch oracles: h60(s) = first 15 hex chars of md5(s) as an
    // integer, parsed with a strpos fold (both engines share md5).
    // ------------------------------------------------------------------
    "q_minhash_sig" ->
      s"""WITH sh AS (
        |  SELECT doc_id,
        |    [array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws)-1)] AS shs
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g')), '\\s+') AS ws
        |        FROM documents WHERE doc_id < 50)
        |), hashed AS (
        |  SELECT doc_id, [${h60Sql("s")} FOR s IN shs] AS hs FROM sh
        |), sigs AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hs) = 0 THEN ''
        |         ELSE array_to_string([list_min([((h % 2147483647) * (${h60Sql("'minhash-a-' || j")} % 2147483646 + 1)
        |                + ${h60Sql("'minhash-b-' || j")} % 2147483647) % 2147483647 FOR h IN hs])
        |              FOR j IN range(0, 32)], '_') END AS sig
        |  FROM hashed
        |)
        |SELECT doc_id, sig FROM sigs""".stripMargin,
    "q_minhash_pairs" -> minhashPairsSql,
    "q_dedup_clusters" ->
      // components over the minhash pair graph via recursive min-reach:
      // comp(v) = min(u reachable from v); singletons keep their own id
      s"""WITH RECURSIVE pairs AS ($minhashPairsSql
        |), nodes AS (
        |  SELECT doc_id FROM documents WHERE doc_id < 500
        |), e AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM nodes
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst
        |)
        |SELECT src AS doc_id, min(dst) AS cluster_id
        |FROM reach GROUP BY 1""".stripMargin,
    "q_simhash_pairs" ->
      s"""WITH norm AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS s
        |  FROM documents WHERE doc_id < 500
        |), toks AS (
        |  SELECT doc_id, string_split_regex(s, '\\s+')[1:128] AS tks FROM norm WHERE length(s) > 0
        |), hashed AS (
        |  SELECT doc_id, [${h60Sql("t")} FOR t IN tks] AS hs FROM toks
        |), sigs AS (
        |  SELECT doc_id,
        |    CAST(list_sum([CASE WHEN 2 * list_sum([CAST((h >> b) & 1 AS BIGINT) FOR h IN hs]) > len(hs)
        |                        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END FOR b IN range(0, 60)]) AS BIGINT) AS sig
        |  FROM hashed
        |), banded AS (
        |  SELECT doc_id, sig, b, (sig >> (b*15)) & 32767 AS chunk
        |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS b)
        |), pairs AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b, l.sig AS sa, r.sig AS sb
        |  FROM banded l JOIN banded r ON l.b = r.b AND l.chunk = r.chunk AND l.doc_id < r.doc_id
        |)
        |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        |FROM pairs WHERE bit_count(xor(sa, sb)) <= 8""".stripMargin,
    "q_embed_neardups" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |comp AS (
        |  SELECT p, [CASE WHEN (${h60Sql("'hp-' || p || '-' || (d-1)")} & 1) = 1 THEN -1.0 ELSE 1.0 END
        |             FOR d IN range(1, 65)] AS cs
        |  FROM (SELECT unnest(range(0, 6)) AS p)
        |), bits AS (
        |  SELECT v.vec_id, comp.p,
        |    CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           [comp.cs[d] * v.e[d] FOR d IN range(1, len(v.e)+1)]), (acc, x) -> acc + x) > 0
        |         THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END AS bit
        |  FROM v CROSS JOIN comp
        |), b AS (
        |  SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket FROM bits GROUP BY 1
        |), be AS (
        |  SELECT b.vec_id, b.bucket, v.e FROM b JOIN v USING (vec_id)
        |)
        |SELECT l.vec_id AS id_a, r.vec_id AS id_b,
        |  round(list_cosine_similarity(l.e, r.e), 6) AS cosine
        |FROM be l JOIN be r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
        |WHERE round(list_cosine_similarity(l.e, r.e), 6) >= 0.2""".stripMargin,
    "q_ann_ivf" ->
      """WITH c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(corpus_id AS VARCHAR))) - 1 AS INT) AS cell_id,
        |         cv AS centroid
        |  FROM c ORDER BY md5(CAST(corpus_id AS VARCHAR)) LIMIT 8
        |), assigned AS (
        |  SELECT corpus_id, cv, cell_id FROM (
        |    SELECT c.corpus_id, c.cv, cent.cell_id,
        |      row_number() OVER (PARTITION BY c.corpus_id
        |        ORDER BY round(list_cosine_similarity(c.cv, cent.centroid), 6) DESC, cent.cell_id) AS rn
        |    FROM c CROSS JOIN cent) WHERE rn = 1
        |), q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |         FROM embeddings WHERE vec_id < 20),
        |probes AS (
        |  SELECT query_id, qv, cell_id FROM (
        |    SELECT q.query_id, q.qv, cent.cell_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round(list_cosine_similarity(q.qv, cent.centroid), 6) DESC, cent.cell_id) AS rn
        |    FROM q CROSS JOIN cent) WHERE rn <= 3
        |), scored AS (
        |  SELECT query_id, corpus_id, round(list_cosine_similarity(qv, cv), 6) AS cosine
        |  FROM probes JOIN assigned USING (cell_id)
        |  WHERE corpus_id <> query_id
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, cosine FROM (
        |  SELECT query_id, corpus_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin,
    // ------------------------------------------------------------------
    // Doc-level operators over the documents table
    // ------------------------------------------------------------------
    "q_export" ->
      """WITH md AS (
        |  SELECT doc_id, 'document.md' AS filename,
        |    length('---' || chr(10) || 'title: ' || doc_id || chr(10)
        |      || 'source_path: docs/' || source || '/' || doc_id || '.md' || chr(10)
        |      || 'mime_type: text/markdown' || chr(10) || 'page_count: 1' || chr(10)
        |      || '---' || chr(10) || chr(10) || text || chr(10)
        |      || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '![img-0](img-0.png)' || chr(10) ELSE '' END)
        |      AS content_len
        |  FROM documents
        |), img AS (
        |  SELECT doc_id, 'img-0.png' AS filename,
        |    length(base64(CAST(CAST(doc_id AS VARCHAR) || ':' || regexp_replace(source, '[^ -~]', '?', 'g') AS BLOB))) AS content_len
        |  FROM documents WHERE doc_id % 3 = 0
        |)
        |SELECT doc_id, filename, CAST(content_len AS INT) AS content_len FROM md
        |UNION ALL
        |SELECT doc_id, filename, CAST(content_len AS INT) AS content_len FROM img""".stripMargin,
    "q_files_list" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS n_files,
        |  CASE WHEN doc_id % 3 = 0 THEN 'document.md,img-0.png' ELSE 'document.md' END AS files_csv
        |FROM documents""".stripMargin,
    "q_doc_meta" ->
      """SELECT doc_id,
        |  CAST(doc_id AS VARCHAR) AS title,
        |  'synthetic://' || kind || '/' || doc_id ||
        |    CASE WHEN doc_id % 3 = 1 THEN '.pptx' ELSE '.pdf' END AS source_path,
        |  CASE WHEN doc_id % 3 = 1
        |       THEN 'application/vnd.openxmlformats-officedocument.presentationml.presentation'
        |       ELSE 'application/pdf' END AS mime_type,
        |  1 AS page_count,
        |  CASE doc_id % 3 WHEN 0 THEN '0.00958' WHEN 2 THEN '0.0015' END AS cost_usd,
        |  CASE WHEN doc_id % 3 = 1 THEN NULL ELSE '1' END AS pages_processed
        |FROM (SELECT doc_id,
        |        CASE doc_id % 3 WHEN 0 THEN 'md_azure' WHEN 1 THEN 'md_slides'
        |             ELSE 'md_datalab' END AS kind
        |      FROM documents)""".stripMargin,
    "q_chunk_fallback" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CASE WHEN length(text) <= 200 THEN 1
        |                         ELSE CAST(ceil(length(text) / 160.0) AS BIGINT) END)) AS i
        |  FROM documents
        |)
        |SELECT doc_id, CAST(i AS INT) AS chunk_index,
        |  CAST(length(substring(text, CAST(i*160 + 1 AS INT), 200)) + 2 AS INT) AS chunk_len
        |FROM c""".stripMargin,
    "q_corrections" ->
      // line 1 replaced by its ASCII-uppercased 40-char prefix (translate =
      // the same 1:1 a-z map both engines compute); the rest of a
      // multi-line document survives verbatim (exact for ANY text shape)
      """SELECT doc_id,
        |  translate(substring(split_part(text, chr(10), 1), 1, 40),
        |            'abcdefghijklmnopqrstuvwxyz', 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') ||
        |  CASE WHEN strpos(text, chr(10)) > 0
        |       THEN substring(text, strpos(text, chr(10))) ELSE '' END AS corrected
        |FROM documents""".stripMargin,
    "q_page_range" ->
      """SELECT doc_id, doc_id % 10 + 1 AS page FROM documents
        |WHERE doc_id % 10 + 1 IN (2, 3, 4, 7)""".stripMargin,
    // ------------------------------------------------------------------
    // Multimodal plumbing (documents-derived media; stub codec is mod-P)
    // ------------------------------------------------------------------
    "q_media_features" ->
      s"""WITH m AS (
        |  SELECT doc_id, 'img-0.png' AS media_ref, 'image/png' AS mime_type,
        |         CAST(doc_id AS VARCHAR) || ':' || regexp_replace(source, '[^ -~]', '?', 'g') AS payload
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, 'img-1.jpg', 'image/jpeg', CAST(doc_id AS VARCHAR) || ':' || regexp_replace(source, '[^ -~]', '?', 'g')
        |  FROM documents WHERE doc_id % 6 = 0
        |), h AS (
        |  SELECT doc_id, media_ref, mime_type, length(payload) AS byte_len,
        |    ${foldSql("payload")} AS ph
        |  FROM m
        |)
        |SELECT doc_id, media_ref, mime_type, CAST(byte_len AS INT) AS byte_len,
        |  CAST(16 + ph % 1024 AS INT) AS width,
        |  CAST(16 + (ph // 1024) % 1024 AS INT) AS height,
        |  CASE WHEN mime_type = 'image/png' THEN 4 ELSE 3 END AS channels,
        |  round(CAST((ph // 16) % 256 AS DOUBLE) / 255.0 * 10000) / 10000 AS mean_luma,
        |  ph AS phash
        |FROM h""".stripMargin,
    "q_media_resize" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(30 + doc_id % 100 AS INT) AS w,
        |         CAST(20 + doc_id % 50 AS INT) AS h
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN greatest(w, h) > 64
        |       THEN CAST(round(w * 64.0 / greatest(w, h)) AS INT) ELSE w END AS width,
        |  CASE WHEN greatest(w, h) > 64
        |       THEN CAST(round(h * 64.0 / greatest(w, h)) AS INT) ELSE h END AS height,
        |  greatest(w, h) > 64 AS resized
        |FROM d""".stripMargin,
    "q_media_minsize" ->
      // selection set of the header-only min-size filter (see queries)
      """SELECT doc_id, 'img-0.png' AS media_ref FROM documents
        |WHERE doc_id % 50 >= 20 AND doc_id % 100 >= 10""".stripMargin,
    "q_pdf_info" ->
      // the writer's params are arithmetic in doc_id; the parse must
      // recover them exactly. locked (id%7=3) docs collapse to the basic
      // encrypted shape; empty-password docs (id%5=2) read as plaintext
      """WITH d AS (SELECT doc_id, doc_id % 7 = 3 AS locked FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN locked THEN 0 ELSE 1 + doc_id % 5 END AS INT) AS page_count,
        |  locked AS is_encrypted,
        |  CAST(CASE WHEN locked THEN 0 ELSE 300 + doc_id % 200 END AS DOUBLE) AS width0,
        |  CAST(CASE WHEN locked THEN 0 ELSE 400 + doc_id % 100 END AS DOUBLE) AS height0,
        |  CASE WHEN locked THEN '' ELSE 'doc-' || doc_id END AS title,
        |  CASE WHEN locked THEN '' ELSE 'author-' || (doc_id % 7) END AS author,
        |  '' AS decode_error
        |FROM d""".stripMargin,
    "q_pdf_pages" ->
      // keep order (last, first): width0 carries the last page's width
      """SELECT doc_id, CAST(2 AS INT) AS page_count,
        |  CAST(300 + doc_id % 200 + doc_id % 5 AS DOUBLE) AS width0,
        |  CAST(300 + doc_id % 200 AS DOUBLE) AS width1,
        |  CAST(400 + doc_id % 100 AS DOUBLE) AS height0
        |FROM documents""".stripMargin,
    "q_pdf_text" ->
      // the text writer's params are arithmetic in doc_id; the
      // content-stream interpreter must reconstruct every line exactly
      """SELECT doc_id, CAST(p AS INT) AS page,
        |  'Doc ' || doc_id || ' page ' || p || chr(10) ||
        |  'Lorem body ' || (doc_id + p) % 10 || chr(10) ||
        |  'alpha beta-' || (doc_id % 4) AS page_text
        |FROM documents, (SELECT unnest([1,2,3]) AS p) t
        |WHERE p <= 1 + doc_id % 3""".stripMargin,
    "q_docx" ->
      // the docx writer's params are arithmetic in doc_id; n_spans =
      // page breaks (1 + even) + heading + body + list (1+id%3) + table
      // + second-page text (even)
      """SELECT doc_id,
        |  'Doc ' || doc_id AS title,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INT) AS page_count,
        |  CAST(5 + doc_id % 3 + CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END AS INT) AS n_spans,
        |  '# Heading ' || (doc_id % 7) || chr(10) ||
        |  'Body alpha ' || ((doc_id * 3) % 11) || chr(10) ||
        |  '- item-0' ||
        |  CASE WHEN doc_id % 3 >= 1 THEN chr(10) || '- item-1' ELSE '' END ||
        |  CASE WHEN doc_id % 3 >= 2 THEN chr(10) || '- item-2' ELSE '' END ||
        |  chr(10) || '|Lorem|Ipsum|' || chr(10) || '|---|---|' || chr(10) ||
        |  '|' || (doc_id % 9) || '|' || (doc_id % 8) || '|' ||
        |  CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'Second page text ' || doc_id ELSE '' END
        |    AS text_all
        |FROM documents""".stripMargin,
    "q_pptx" ->
      // 3 spans per slide (page_break + title heading + body point)
      """SELECT doc_id, 'Deck ' || doc_id AS title,
        |  CAST(1 + doc_id % 3 AS INT) AS page_count,
        |  CAST(3 * (1 + doc_id % 3) AS INT) AS n_spans,
        |  string_agg('# Slide ' || (doc_id % 5) || '-' || p || chr(10) ||
        |             'Point alpha ' || ((doc_id + p) % 7), chr(10) ORDER BY p) AS text_all
        |FROM documents, (SELECT unnest([1,2,3]) AS p) t
        |WHERE p <= 1 + doc_id % 3
        |GROUP BY doc_id""".stripMargin,
    "q_xlsx" ->
      // per doc: page_break + '## Data' + 4-line table, then page_break +
      // '## Notes' + 2-line (header-only) table
      """SELECT doc_id, 'Book ' || doc_id AS title,
        |  CAST(2 AS INT) AS page_count, CAST(6 AS INT) AS n_spans,
        |  '## Data' || chr(10) ||
        |  '|Name|Value|' || chr(10) || '|---|---|' || chr(10) ||
        |  '|item-' || (doc_id % 4) || '|' || (doc_id % 9) || '|' || chr(10) ||
        |  '|thing|' || (doc_id % 7) || '|' || chr(10) ||
        |  '## Notes' || chr(10) ||
        |  '|note-' || (doc_id % 3) || '|' || chr(10) || '|---|' AS text_all
        |FROM documents""".stripMargin,
    "q_epub" ->
      // 3 spans per chapter (page_break + heading + body paragraph)
      """SELECT doc_id, 'Novel ' || doc_id AS title,
        |  CAST(1 + doc_id % 3 AS INT) AS page_count,
        |  CAST(3 * (1 + doc_id % 3) AS INT) AS n_spans,
        |  string_agg('# Chapter ' || (doc_id % 5) || '-' || p || chr(10) ||
        |    'Alpha body text number ' || ((doc_id + p) % 9) ||
        |    ' with enough plain words to pass the content density classifier easily.',
        |    chr(10) ORDER BY p) AS text_all
        |FROM documents, (SELECT unnest([1,2,3]) AS p) t
        |WHERE p <= 1 + doc_id % 3
        |GROUP BY doc_id""".stripMargin,
    "q_odt" ->
      // 1 page; pb + heading + body + list + table = 5 spans
      """SELECT doc_id, 'Odt ' || doc_id AS title,
        |  CAST(1 AS INT) AS page_count, CAST(5 AS INT) AS n_spans,
        |  '# Doc ' || doc_id || ' heading' || chr(10) ||
        |  'Body text ' || ((doc_id * 5) % 13) || chr(10) ||
        |  '- entry-' || (doc_id % 4) || chr(10) ||
        |  '|K|V|' || chr(10) || '|---|---|' || chr(10) ||
        |  '|k' || (doc_id % 3) || '|' || (doc_id % 6) || '|' AS text_all
        |FROM documents""".stripMargin,
    "q_rtf" ->
      // page break before paragraph 2 on even ids
      """SELECT doc_id, 'Rtf ' || doc_id AS title,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INT) AS page_count,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END AS INT) AS n_spans,
        |  'Rtf alpha ' || (doc_id % 8) || chr(10) ||
        |  'Second ' || ((doc_id + 3) % 5) AS text_all
        |FROM documents""".stripMargin,
    "q_doc" ->
      // initial page_break + 3 paragraphs (+1 break before para 2 on
      // id%3==0); title from the SummaryInformation property set
      """SELECT doc_id, 'Word ' || doc_id AS title,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT) AS page_count,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 5 ELSE 4 END AS INT) AS n_spans,
        |  'Doc legacy alpha ' || (doc_id % 9) || chr(10) ||
        |  'Mid section ' || ((doc_id * 3) % 7) || chr(10) ||
        |  'Tail words ' || ((doc_id + 5) % 11) AS text_all
        |FROM documents""".stripMargin,
    "q_ppt" ->
      // 3 spans per slide (page_break + title heading + bullet)
      """SELECT doc_id, 'Deck ' || doc_id AS title,
        |  CAST(1 + doc_id % 2 AS INT) AS page_count,
        |  CAST(3 * (1 + doc_id % 2) AS INT) AS n_spans,
        |  string_agg('# Slide ' || (doc_id % 6) || '-' || p || chr(10) ||
        |             'Bullet ' || ((doc_id + p) % 4), chr(10) ORDER BY p) AS text_all
        |FROM documents, (SELECT unnest([1,2]) AS p) t
        |WHERE p <= 1 + doc_id % 2
        |GROUP BY doc_id""".stripMargin,
    "q_ods" ->
      // per sheet: page_break + '## name' + pipe table (repeated blank
      // filler columns trimmed by the parser)
      """SELECT doc_id, 'Calc ' || doc_id AS title,
        |  CAST(2 AS INT) AS page_count, CAST(6 AS INT) AS n_spans,
        |  '## Data' || chr(10) ||
        |  '|K|V|' || chr(10) || '|---|---|' || chr(10) ||
        |  '|k' || (doc_id % 5) || '|' || (doc_id % 7) || '|' || chr(10) ||
        |  '## Extra' || chr(10) ||
        |  '|x' || (doc_id % 3) || '|' || chr(10) || '|---|' AS text_all
        |FROM documents""".stripMargin,
    "q_bib" ->
      // two entries → one list block (1 span); case braces strip
      """SELECT doc_id, 'application/x-bibtex' AS mime_type,
        |  CAST(1 AS INT) AS n_spans,
        |  '- **ref' || (doc_id % 10) || 'a** (article): Author ' ||
        |    (doc_id % 4) || ', Coauthor ' || ((doc_id * 3) % 5) || ' (' ||
        |    (1990 + (doc_id % 30)) || '). *Study ' || ((doc_id * 7) % 12) ||
        |    ' of Things*. Journal ' || (doc_id % 3) || '.' || chr(10) ||
        |  '- **ref' || (doc_id % 10) || 'b** (misc): *Note ' ||
        |    ((doc_id + 2) % 6) || '*.' AS text_all
        |FROM documents""".stripMargin,
    "q_tex" ->
      // 8 spans: maketitle-#, section-#, styled para, list block,
      // IMAGE (kind only), caption para, pipe table, math para
      """SELECT doc_id, 'application/x-latex' AS mime_type,
        |  CAST(8 AS INT) AS n_spans,
        |  'text,text,text,text,image,text,text,text' AS kinds,
        |  'fig-' || (doc_id % 2) || '.png' AS media_refs,
        |  '# Paper ' || (doc_id % 6) || chr(10) ||
        |  '# Intro ' || (doc_id % 4) || chr(10) ||
        |  'Result is **' || (doc_id % 8) || '** with *margin* ' ||
        |    ((doc_id * 5) % 9) || '.' || chr(10) ||
        |  '- alpha ' || (doc_id % 3) || chr(10) ||
        |  '- beta ' || ((doc_id + 1) % 3) || chr(10) ||
        |  'Curve ' || (doc_id % 7) || chr(10) ||
        |  '|k|v|' || chr(10) || '|---|---|' || chr(10) ||
        |  '|a|' || (doc_id % 5) || '|' || chr(10) ||
        |  'Math $x^{' || (doc_id % 3) || '}$ inline.' AS text_all
        |FROM documents""".stripMargin,
    "q_ipynb" ->
      // markdown cell → 2 blocks; code fence, stream fence, result fence;
      // ids % 3 == 0 add an ANSI-stripped error fence
      """SELECT doc_id, 'application/x-ipynb+json' AS mime_type,
        |  CAST(1 AS INT) AS page_count,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 6 ELSE 5 END AS INT) AS n_spans,
        |  '# Notebook ' || (doc_id % 7) || chr(10) ||
        |  'Analysis of run ' || ((doc_id * 3) % 11) || '.' || chr(10) ||
        |  '```python' || chr(10) || 'x = ' || (doc_id % 9) || chr(10) ||
        |    'print(x * 2)' || chr(10) || '```' || chr(10) ||
        |  '```' || chr(10) || ((doc_id % 9) * 2) || chr(10) || '```' || chr(10) ||
        |  '```' || chr(10) || (doc_id % 5) || chr(10) || '```' ||
        |  CASE WHEN doc_id % 3 = 0 THEN chr(10) || '```' || chr(10) ||
        |    'ValueError: bad ' || (doc_id % 4) || chr(10) ||
        |    'ValueError: bad ' || (doc_id % 4) || chr(10) || '```'
        |  ELSE '' END AS text_all
        |FROM documents""".stripMargin,
    "q_rst" ->
      // docutils-leveled headings ('='->1, '-'->2 by first appearance),
      // inline double-backtick literal collapses to single
      """SELECT doc_id,
        |  CAST(1 AS INT) AS page_count, CAST(4 AS INT) AS n_spans,
        |  '# Title ' || (doc_id % 5) || chr(10) ||
        |  'Body paragraph ' || ((doc_id * 2) % 9) || ' with `code` inline' || chr(10) ||
        |  '## Sub ' || (doc_id % 3) || chr(10) ||
        |  'Closing words ' || ((doc_id + 4) % 6) AS text_all
        |FROM documents""".stripMargin,
    "q_org" ->
      // 4 text spans: title heading, section heading (bold doubled),
      // pipe table (rule → separator), scala fence
      """SELECT doc_id,
        |  CAST(1 AS INT) AS page_count, CAST(4 AS INT) AS n_spans,
        |  '# Notes ' || (doc_id % 5) || chr(10) ||
        |  '# Section ' || ((doc_id * 2) % 9) || ' with **bold** text' || chr(10) ||
        |  '|k|v|' || chr(10) || '|---|---|' || chr(10) ||
        |  '|a|' || (doc_id % 7) || '|' || chr(10) ||
        |  '```scala' || chr(10) || 'val n = ' || (doc_id % 4) || chr(10) ||
        |  '```' AS text_all
        |FROM documents""".stripMargin,
    "q_xls" ->
      // two sheets: page_break + '## name' + pipe table each; RK ints may
      // be negative, doubles keep the XLSX <v> convention (x.5 / integral)
      """SELECT doc_id, 'Ledger ' || doc_id AS title,
        |  CAST(2 AS INT) AS page_count, CAST(6 AS INT) AS n_spans,
        |  '## Data' || chr(10) ||
        |  '|Name|Qty|Price|' || chr(10) || '|---|---|---|' || chr(10) ||
        |  '|item-' || (doc_id % 7) || '|' || (doc_id % 13 - 3) || '|' ||
        |    ((doc_id % 5) + 0.5) || '|' || chr(10) ||
        |  '|thing ' || (doc_id % 4) || '|' || (doc_id % 9) || '|' ||
        |    (doc_id % 3) || '|' || chr(10) ||
        |  '## Notes' || chr(10) ||
        |  '|nöte ' || ((doc_id * 3) % 11) || '|' || chr(10) || '|---|' AS text_all
        |FROM documents""".stripMargin,
    "q_csv" ->
      // csv (even ids) and tsv (odd) carry identical cells → one table
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'text/csv'
        |       ELSE 'text/tab-separated-values' END AS mime_type,
        |  CAST(1 AS INT) AS page_count, CAST(1 AS INT) AS n_spans,
        |  '|name|qty|note|' || chr(10) || '|---|---|---|' || chr(10) ||
        |  '|alpha ' || (doc_id % 5) || '|' || (doc_id % 7) || '|x, y ' ||
        |    (doc_id % 3) || '|' || chr(10) ||
        |  '|say "hi"|' || ((doc_id * 2) % 9) || '|line' || (doc_id % 4) ||
        |    '|' AS text_all
        |FROM documents""".stripMargin,
    "q_typst" ->
      // 7 spans: two headings, styled para, IMAGE (kind only), list,
      // fence, link para
      """SELECT doc_id, 'application/x-typst' AS mime_type,
        |  CAST(7 AS INT) AS n_spans,
        |  'text,text,text,image,text,text,text' AS kinds,
        |  'plot-' || (doc_id % 3) || '.png' AS media_refs,
        |  '# Doc ' || (doc_id % 5) || chr(10) ||
        |  '## Part ' || ((doc_id * 2) % 7) || chr(10) ||
        |  'Some **very** important *words* ' || ((doc_id + 1) % 4) ||
        |    ' here.' || chr(10) ||
        |  '- alpha ' || (doc_id % 6) || chr(10) || '- beta' || chr(10) ||
        |  '```scala' || chr(10) || 'val x = ' || (doc_id % 9) || chr(10) ||
        |    '```' || chr(10) ||
        |  'See [docs ' || (doc_id % 2) || '](http://e.x) now.' AS text_all
        |FROM documents""".stripMargin,
    "q_man" ->
      // even ids man(7): title/NAME/name-line/DESCRIPTION/font para/TP
      // tag/tag body/fence = 8 spans; odd ids mdoc(7): Nm/Nd join with an
      // em dash, Ar italicizes, Dl fences = 6 spans
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'text/troff'
        |       ELSE 'text/x-mdoc' END AS mime_type,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 6 END AS INT) AS n_spans,
        |  CASE WHEN doc_id % 2 = 0 THEN
        |    '# TOOL' || (doc_id % 4) || '(1)' || chr(10) ||
        |    '## NAME' || chr(10) ||
        |    'tool' || (doc_id % 4) || ' - does thing ' ||
        |      ((doc_id * 3) % 7) || chr(10) ||
        |    '## DESCRIPTION' || chr(10) ||
        |    'Runs with **bold ' || (doc_id % 5) || '** form.' || chr(10) ||
        |    '**-x**' || chr(10) ||
        |    'Option ' || ((doc_id + 2) % 6) || '.' || chr(10) ||
        |    '```' || chr(10) || 'code ' || (doc_id % 3) || chr(10) || '```'
        |  ELSE
        |    '# TOOL' || (doc_id % 4) || '(1)' || chr(10) ||
        |    '## NAME' || chr(10) ||
        |    '**tool' || (doc_id % 4) || '** — does thing ' ||
        |      ((doc_id * 3) % 7) || chr(10) ||
        |    '## DESCRIPTION' || chr(10) ||
        |    'Runs with *file* operands ' || (doc_id % 5) || '.' || chr(10) ||
        |    '```' || chr(10) || 'make ' || (doc_id % 3) || chr(10) || '```'
        |  END AS text_all
        |FROM documents""".stripMargin,
    "q_dokuwiki" ->
      // 6 spans: two headings, one joined inline para, IMAGE (kind only),
      // list (nested syntax flattened to bullets), python fence
      """SELECT doc_id, 'text/x-dokuwiki' AS mime_type,
        |  CAST(6 AS INT) AS n_spans,
        |  'text,text,text,image,text,text' AS kinds,
        |  'img-' || (doc_id % 2) || '.png' AS media_refs,
        |  '# Wiki ' || (doc_id % 5) || chr(10) ||
        |  '## Part ' || ((doc_id * 2) % 7) || chr(10) ||
        |  'Some *italic ' || (doc_id % 4) || '* and **bold** with `mono ' ||
        |    (doc_id % 6) || '` text. Link [site ' || (doc_id % 3) ||
        |    '](http://a) here.' || chr(10) ||
        |  '- one ' || ((doc_id + 3) % 8) || chr(10) || '- two' || chr(10) ||
        |  '```python' || chr(10) || 'print(' || (doc_id % 9) || ')' ||
        |    chr(10) || '```' AS text_all
        |FROM documents""".stripMargin,
    "q_pod" ->
      // 5 spans: head1, inline-code para (E<lt> unescapes), verbatim
      // fence keeping the 4-space indent, item list, head2
      """SELECT doc_id, 'text/x-pod' AS mime_type,
        |  CAST(5 AS INT) AS n_spans,
        |  '# Tool ' || (doc_id % 5) || chr(10) ||
        |  'Runs **fast ' || (doc_id % 4) || '** with `cmd --' ||
        |    (doc_id % 7) || '`. Compare 1 < ' || ((doc_id + 2) % 9) ||
        |    '.' || chr(10) ||
        |  '```' || chr(10) || '    $ tool --run ' || (doc_id % 3) ||
        |    chr(10) || '```' || chr(10) ||
        |  '- First choice ' || ((doc_id * 2) % 11) || '.' || chr(10) ||
        |    '- Second choice.' || chr(10) ||
        |  '## Options ' || (doc_id % 6) AS text_all
        |FROM documents""".stripMargin,
    "q_fb2" ->
      // 6 spans: book-title, body title, section title, emphasis para,
      // cite blockquote, IMAGE (kind only, positional ref)
      """SELECT doc_id, 'application/x-fictionbook+xml' AS mime_type,
        |  CAST(6 AS INT) AS n_spans,
        |  'text,text,text,text,text,image' AS kinds,
        |  'pic' || (doc_id % 2) || '.png' AS media_refs,
        |  '# Book ' || (doc_id % 5) || chr(10) ||
        |  '# Volume ' || ((doc_id % 3) + 1) || chr(10) ||
        |  '## Chapter ' || ((doc_id * 2) % 9) || chr(10) ||
        |  'It was *a* night ' || (doc_id % 4) || '.' || chr(10) ||
        |  '> Quote ' || ((doc_id + 5) % 7) || '.' AS text_all
        |FROM documents""".stripMargin,
    "q_jats" ->
      // 8 spans: article-title, Abstract heading, abstract para, sec
      // heading, monospace para, ordered list, IMAGE, fig caption
      """SELECT doc_id, 'application/x-jats+xml' AS mime_type,
        |  CAST(8 AS INT) AS n_spans,
        |  'text,text,text,text,text,text,image,text' AS kinds,
        |  'f' || (doc_id % 2) || '.png' AS media_refs,
        |  '# Paper ' || (doc_id % 6) || chr(10) ||
        |  '## Abstract' || chr(10) ||
        |  'We study ' || (doc_id % 4) || ' things.' || chr(10) ||
        |  '## Methods ' || ((doc_id * 3) % 8) || chr(10) ||
        |  'Use `cmd-' || (doc_id % 5) || '` now.' || chr(10) ||
        |  '1. first ' || (doc_id % 3) || chr(10) || '2. second' || chr(10) ||
        |  'Figure ' || ((doc_id + 1) % 7) || '.' AS text_all
        |FROM documents""".stripMargin,
    "q_opml" ->
      // 2 spans: head title heading + ONE nested outline list (xmlUrl →
      // link, _note → em-dash suffix)
      """SELECT doc_id, 'application/x-opml+xml' AS mime_type,
        |  CAST(2 AS INT) AS n_spans,
        |  '# Plans ' || (doc_id % 5) || chr(10) ||
        |  '- Top ' || ((doc_id * 2) % 7) || chr(10) ||
        |  '  - Sub ' || (doc_id % 4) || chr(10) ||
        |  '  - [Feed](http://f/' || (doc_id % 3) || ')' || chr(10) ||
        |  '- Item ' || ((doc_id + 4) % 9) || ' — note ' || (doc_id % 6)
        |    AS text_all
        |FROM documents""".stripMargin,
    "q_refs" ->
      // one reference-list span; the three dialects agree on everything
      // except the kind vocabulary and the id slot (EndNote rec-number
      // has no 'r' prefix)
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'application/x-research-info-systems'
        |       WHEN doc_id % 3 = 1 THEN 'application/csl+json'
        |       ELSE 'application/x-endnote+xml' END AS mime_type,
        |  CAST(1 AS INT) AS n_spans,
        |  '- **' || CASE WHEN doc_id % 3 = 2 THEN '' ELSE 'r' END ||
        |    (doc_id % 10) || '** (' ||
        |  CASE WHEN doc_id % 3 = 0 THEN 'jour'
        |       WHEN doc_id % 3 = 1 THEN 'article-journal'
        |       ELSE 'journal-article' END ||
        |  '): Knuth, Donald E. (' || (1980 + doc_id % 40) || '). *Study ' ||
        |    (doc_id % 9) || '*. Journal ' || (doc_id % 4) || '.' || chr(10) ||
        |  '- **ref-2** (book): *Note ' || ((doc_id + 1) % 6) || '*.'
        |    AS text_all
        |FROM documents""".stripMargin,
    "q_docbook" ->
      // 6 spans: info title, section heading, role=bold para, scala
      // fence, itemized list, IMAGE via mediaobject/imagedata
      """SELECT doc_id, 'application/docbook+xml' AS mime_type,
        |  CAST(6 AS INT) AS n_spans,
        |  'text,text,text,text,text,image' AS kinds,
        |  'fig' || (doc_id % 2) || '.png' AS media_refs,
        |  '# Guide ' || (doc_id % 5) || chr(10) ||
        |  '## Intro ' || ((doc_id * 2) % 7) || chr(10) ||
        |  'Hello *world ' || (doc_id % 4) || '* and **bold** text.' || chr(10) ||
        |  '```scala' || chr(10) || 'val x = ' || (doc_id % 9) || chr(10) ||
        |    '```' || chr(10) ||
        |  '- first ' || (doc_id % 3) || chr(10) || '- second' AS text_all
        |FROM documents""".stripMargin,
    "q_boilerplate" ->
      // the two hot paragraphs (df=N and df~N/3, both >10) vanish; the
      // unique body+tail survive joined by the blank-line separator
      """SELECT doc_id,
        |  'unique body ' || doc_id || ' alpha' || chr(10) || chr(10) ||
        |  'unique tail ' || ((doc_id * 7) % 11) || ' of ' || doc_id AS clean_text
        |FROM documents""".stripMargin,
    "q_pii" ->
      // the masked text and per-kind counts reconstruct by concatenation
      """SELECT doc_id,
        |  'Contact |||EMAIL|||' ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' cc |||EMAIL|||' ELSE '' END ||
        |  ' or |||PHONE||| from |||IP||| today.' AS clean,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT) AS n_emails,
        |  CAST(1 AS INT) AS n_phones, CAST(1 AS INT) AS n_ips
        |FROM documents""".stripMargin,
    "q_gopher" ->
      // n = 4 + id%3 lines; distinct loses one line per dup (alpha dup on
      // even ids, gamma pair when id%3=2); every fraction is one IEEE
      // division (+ one subtraction) in both engines
      """SELECT doc_id,
        |  CAST(4 + doc_id % 3 AS INT) AS n_lines,
        |  1.0 - CAST(4 + doc_id % 3
        |      - (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |      - (CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(4 + doc_id % 3 AS DOUBLE) AS dup_line_frac,
        |  CAST(CASE WHEN doc_id % 2 = 0 OR doc_id % 3 = 2 THEN 2 ELSE 1 END
        |    AS DOUBLE) / CAST(4 + doc_id % 3 AS DOUBLE) AS top_line_frac,
        |  CAST(1 AS DOUBLE) / CAST(4 + doc_id % 3 AS DOUBLE) AS bullet_line_frac,
        |  CAST(1 AS DOUBLE) / CAST(4 + doc_id % 3 AS DOUBLE) AS ellipsis_line_frac
        |FROM documents""".stripMargin,
    "q_gopher_filter" ->
      // caps (dup 0.2, top 0.3): even ids die on dup-line (0.25/0.333)
      // or top-line (2/5), 6-line odd ids on top-line (1/3) — survivors
      // are the odd ids with 4 or 5 lines
      """SELECT doc_id,
        |  CAST(4 + doc_id % 3 AS INT) AS n_lines,
        |  CAST(0 AS DOUBLE) AS dup_line_frac,
        |  CAST(1 AS DOUBLE) / CAST(4 + doc_id % 3 AS DOUBLE) AS top_line_frac
        |FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id % 3 IN (0, 1)""".stripMargin,
    "q_sample" ->
      // identical sha256 predicate, straight over the real table
      """SELECT doc_id, n_chars FROM documents
        |WHERE substr(sha256(text), 1, 2) < '29'""".stripMargin,
    "q_compose" ->
      // survivors: odd ids (even die on dup-line 0.25 > 0.2) whose
      // domain is unblocked (id%10 >= 3); the scrubbed text and the
      // zero dup fraction reconstruct arithmetically
      """SELECT doc_id,
        |  'site' || (doc_id % 10) || '.com' AS domain,
        |  'Contact |||EMAIL||| now' || chr(10) ||
        |  'beta ' || (doc_id % 7) || chr(10) ||
        |  '- bullet ' || (doc_id % 4) || chr(10) ||
        |  'tail ' || (doc_id % 6) || '...' AS text,
        |  CAST(0 AS DOUBLE) AS dup_line_frac
        |FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id % 10 >= 3""".stripMargin,
    "q_dupwindows" ->
      // even ids: 8 tokens → 5 windows, 3 duplicated corpus-wide; odd
      // ids: one unique window; fractions are single IEEE divisions
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 5 ELSE 1 END AS INT) AS n_windows,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(3 AS DOUBLE) / CAST(5 AS DOUBLE)
        |       ELSE CAST(0 AS DOUBLE) END AS dup_window_frac
        |FROM documents""".stripMargin,
    "q_urls" ->
      // blocked domains are site0-2.com → survivors id%10 >= 3; host and
      // registered domain reconstruct by concatenation
      """SELECT doc_id,
        |  'https://www' || (doc_id % 3) || '.site' || (doc_id % 10) ||
        |    '.com/p/' || doc_id || '?ref=' || (doc_id % 5) AS url,
        |  'www' || (doc_id % 3) || '.site' || (doc_id % 10) || '.com' AS host,
        |  'site' || (doc_id % 10) || '.com' AS domain
        |FROM documents
        |WHERE doc_id % 10 >= 3""".stripMargin,
    "q_pdf_images" ->
      // img-0 on page 1 always; img-1 on page 2 for even ids with >=2 pages
      """SELECT doc_id, 'img-0.jpeg' AS media_ref, 'image/jpeg' AS mime_type,
        |  CAST(length('JPEGDATA-' || doc_id || '-0') AS INT) AS payload_len,
        |  md5('JPEGDATA-' || doc_id || '-0') AS payload_md5
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 'img-1.jpeg', 'image/jpeg',
        |  CAST(length('JPEGDATA-' || doc_id || '-1') AS INT),
        |  md5('JPEGDATA-' || doc_id || '-1')
        |FROM documents WHERE doc_id % 2 = 0 AND doc_id % 3 > 0""".stripMargin,
    "q_export_json" ->
      // compact JSON per media row, fields in struct order (see queries)
      """WITH m AS (
        |  SELECT doc_id, 'img-0.png' AS media_ref, 'image/png' AS mime_type,
        |         CAST(doc_id AS VARCHAR) || ':' || regexp_replace(source, '[^ -~]', '?', 'g') AS payload
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, 'img-1.jpg', 'image/jpeg',
        |         CAST(doc_id AS VARCHAR) || ':' || regexp_replace(source, '[^ -~]', '?', 'g')
        |  FROM documents WHERE doc_id % 6 = 0
        |)
        |SELECT doc_id, media_ref,
        |  CAST(json_object('doc_id', doc_id, 'media_ref', media_ref,
        |    'mime_type', mime_type,
        |    'content_b64', to_base64(encode(payload))) AS VARCHAR) AS doc_json
        |FROM m""".stripMargin,
    "q_audio_features" ->
      // integer PCM: sum of squared samples and max |sample| are exact
      // integers on both engines; one final IEEE sqrt/divide each side
      s"""WITH d AS (SELECT doc_id, 400 + (doc_id % 10) * 40 AS n FROM documents),
        |s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
        |v AS (SELECT doc_id, n, ((i * 2654435761 + doc_id) % 65536) - 32768 AS smp FROM s)
        |SELECT doc_id, 8000 AS sample_rate, 1 AS channels,
        |  CAST(n AS INT) AS n_frames, CAST(n // 8 AS INT) AS duration_ms,
        |  round(sqrt(CAST(sum(smp * smp) AS DOUBLE) / (CAST(n AS DOUBLE) * 1073741824.0)), 4) AS rms,
        |  round(CAST(max(abs(smp)) AS DOUBLE) / 32768.0, 4) AS peak
        |FROM v GROUP BY doc_id, n""".stripMargin,
    "q_frame_sample" ->
      s"""WITH m AS (
        |  SELECT doc_id, 'img-0.png' AS media_ref,
        |         CAST(doc_id AS VARCHAR) || ':' || regexp_replace(source, '[^ -~]', '?', 'g') AS payload
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, 'img-1.jpg', CAST(doc_id AS VARCHAR) || ':' || regexp_replace(source, '[^ -~]', '?', 'g')
        |  FROM documents WHERE doc_id % 6 = 0
        |), n AS (
        |  SELECT doc_id, media_ref,
        |    CAST(1 + (${foldSql("payload")} + length(payload)) % 300 AS INT) AS n_frames
        |  FROM m
        |)
        |SELECT doc_id, media_ref, CAST(f * 10 AS INT) AS frame_idx, n_frames FROM (
        |  SELECT doc_id, media_ref, n_frames,
        |    unnest(range(0, least(CAST(ceil(n_frames / 10.0) AS BIGINT), 8))) AS f
        |  FROM n)""".stripMargin)

  /** DuckDB h60(expr): first 15 hex chars of md5 parsed via a strpos fold —
    * numerically identical to [[graft.functions.PortableHash.h60]].
    */
  private def h60Sql(expr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"[CAST(strpos('0123456789abcdef', md5($expr)[i]) - 1 AS BIGINT) FOR i IN range(1, 16)]), " +
      s"(a, d) -> a*16 + d)"

  /** DuckDB (h*31 + byte) mod 2^31-1 fold over an ASCII payload —
    * [[graft.ops.Multimodal.FakeCodec.foldHash]].
    */
  private def foldSql(expr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"[CAST(ascii(($expr)[i]) AS BIGINT) FOR i IN range(1, length($expr)+1)]), " +
      s"(h, c) -> (h*31 + c) % 2147483647)"
}
