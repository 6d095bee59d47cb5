package graft.sources

import java.io.BufferedReader
import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Streaming parser for mydumper SQL data files
  * (`INSERT INTO t (cols) VALUES (…),(…);`).
  *
  * Semantics ported from the reference's chunk parser, not its code: a
  * deliberately *lax* scanner that only splits rows — unknown keywords are
  * skipped like comments; values are kept loosely typed (string + kind tag)
  * and cast later against the declared schema (reference:
  * lightning/mydump/parser.go:292-495 state machine, parser.rl:34-130 token
  * rules, escapes parser.go:244-290, hex/bit literals parser.go:474-486).
  *
  * Scale design: one task per file (mydumper emits bounded-size shards; the
  * reference's own chunk splitter likewise re-parses from a row boundary,
  * parser.go:504-535). Files stream through a 64 KiB buffered reader — a
  * 100 TB dump is N files × bounded memory, never whole-file
  * materialization. Rows carry (src_file, row_idx) so downstream row-id
  * allocation is deterministic under retries.
  */
object SqlDumpSource {

  /** Value kind tags (the datum kinds that can appear in a dump file). */
  object Kind {
    val Null = 0; val Number = 1; val Str = 2; val Hex = 3; val Bit = 4
    val Bool = 5
  }

  val schema: StructType = StructType(Seq(
    StructField("src_file", StringType, nullable = false),
    StructField("row_idx", LongType, nullable = false), // 0-based within file
    StructField("stmt_cols", ArrayType(StringType), nullable = true),
    StructField("vals", ArrayType(StringType, containsNull = true), nullable = false),
    StructField("kinds", ArrayType(IntegerType, containsNull = false), nullable = false)))

  // ------------------------------------------------------- charset handling

  /** Charsets parsed byte-transparently (ISO-8859-1 chars = raw bytes, so
    * byte offsets are exact and binary string content round-trips). UTF-8
    * is safe in this mode: its multi-byte sequences never contain ASCII
    * bytes, so quotes/escapes/`;` can't be shadowed — values are re-decoded
    * to UTF-8 only at emit time (reference parses raw []byte the same way,
    * parser.go; charset conversion reader.go:35-65). GB18030 trail bytes CAN
    * be ASCII (incl. 0x5C `\`), so that charset decodes the whole stream
    * instead and gives up byte-split parallelism (one chunk per file). */
  private def byteTransparent(cs: String): Boolean = {
    val c = cs.toLowerCase
    c == "utf-8" || c == "utf8" || c == "binary" || c == "iso-8859-1" || c == "latin1"
  }

  /** Resolve "auto": probe the first 64 KiB — valid UTF-8 → utf8, else
    * GB18030 (the reference's fallback order, reader.go:35-65). */
  def detectCharset(probe: Array[Byte]): String = {
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try {
      // ignore a possibly-truncated final multibyte sequence (up to 3 bytes)
      val buf = java.nio.ByteBuffer.wrap(probe)
      val out = java.nio.CharBuffer.allocate(probe.length)
      val res = dec.decode(buf, out, false)
      if (res.isError) "GB18030" else "UTF-8"
    } catch { case _: Exception => "GB18030" }
  }

  private def resolveCharset(path: Path, fs: org.apache.hadoop.fs.FileSystem,
      charset: String): String =
    if (!charset.equalsIgnoreCase("auto")) charset
    else {
      val in = fs.open(path)
      try {
        val probe = new Array[Byte](64 * 1024)
        var off = 0; var n = 0
        while (off < probe.length && { n = in.read(probe, off, probe.length - off); n > 0 })
          off += n
        detectCharset(java.util.Arrays.copyOf(probe, off))
      } finally in.close()
    }

  /** Re-decode a byte-transparent (ISO-8859-1-char) string as UTF-8; ASCII
    * fast path allocation-free. */
  private def utf8Recode(s: String): String = {
    var i = 0; var ascii = true
    while (ascii && i < s.length) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) s
    else new String(s.getBytes(StandardCharsets.ISO_8859_1), StandardCharsets.UTF_8)
  }

  /** Parse `paths` in parallel (one task per file). `charset`: UTF-8
    * (default), GB18030, binary (byte passthrough), or auto (per-file
    * probe). */
  def read(spark: SparkSession, paths: Seq[String],
      charset: String = "UTF-8"): DataFrame = {
    val sorted = paths.sorted
    val confEntries = spark.sparkContext.broadcast(
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => (e.getKey, e.getValue)).toSeq)
    val rdd = spark.sparkContext
      .parallelize(sorted, math.max(1, sorted.size))
      .flatMap { path =>
        val conf = new Configuration(false)
        confEntries.value.foreach { case (k, v) => conf.set(k, v) }
        parseFile(path, conf, charset)
      }
    spark.createDataFrame(rdd, schema)
  }

  def parseFile(path: String, conf: Configuration,
      charset: String = "UTF-8"): Iterator[Row] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val cs = resolveCharset(p, fs, charset)
    if (byteTransparent(cs)) {
      val in = new BufferedReader(
        new java.io.InputStreamReader(fs.open(p), StandardCharsets.ISO_8859_1),
        64 * 1024)
      val recode: String => String =
        if (cs.toLowerCase.startsWith("utf")) utf8Recode else identity
      parseReader(path, in, recode = recode)
    } else {
      val in = new BufferedReader(
        new java.io.InputStreamReader(fs.open(p),
          java.nio.charset.Charset.forName(cs)), 64 * 1024)
      parseReader(path, in)
    }
  }

  def parseString(content: String, file: String = "<mem>"): Iterator[Row] =
    parseReader(file, new BufferedReader(new java.io.StringReader(content)))

  // ------------------------------------------------- splittable chunk path

  /** One byte-range chunk of a dump file, aligned to statement boundaries,
    * with its pre-allocated row-index base (reference: Chunk{Offset,
    * EndOffset, PrevRowIDMax, RowIDMax} — parser.go:77-83; split planning
    * ReadChunks — parser.go:504-535, MinRegionSize 256 MiB const.go:23). */
  final case class DumpChunk(path: String, start: Long, end: Long, baseRow: Long)

  /** Plan chunks for one file: a single skim pass records the byte offset
    * after each `;` statement terminator and the cumulative row count, then
    * cuts at the first boundary past every `minChunkBytes`. The skim is the
    * same price the reference pays (it too parses once to find safe split
    * points); the parallel re-read afterwards is what scales. */
  def planChunks(path: String, conf: Configuration,
      minChunkBytes: Long): Seq[DumpChunk] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    if (fileLen <= minChunkBytes) return Seq(DumpChunk(path, 0L, fileLen, 0L))
    // byte-transparent skim: 1 char = 1 byte, so recorded `;` boundaries are
    // exact byte offsets regardless of the value charset
    val in = new BufferedReader(
      new java.io.InputStreamReader(fs.open(p), StandardCharsets.ISO_8859_1),
      64 * 1024)
    lastBoundary.set(null) // clear any stale boundary from a prior skim
    val it = parseReader(path, in, trackBoundaries = true)
    val chunks = scala.collection.mutable.ArrayBuffer.empty[DumpChunk]
    var chunkStart = 0L
    var chunkBaseRow = 0L
    var rows = 0L
    try {
      while (it.hasNext) { it.next(); rows += 1
        val b = lastBoundary.get()
        if (b != null && b.bytePos - chunkStart >= minChunkBytes &&
            b.rowsBefore > chunkBaseRow) {
          chunks += DumpChunk(path, chunkStart, b.bytePos, chunkBaseRow)
          chunkStart = b.bytePos
          chunkBaseRow = b.rowsBefore
          lastBoundary.set(null)
        }
      }
    } finally in.close()
    chunks += DumpChunk(path, chunkStart, fileLen, chunkBaseRow)
    chunks.toSeq
  }

  /** Parse `paths` with byte-range parallelism: skim each file once (in
    * parallel) for statement-aligned split points, then one task per
    * chunk. Row indexes stay globally contiguous per file. Non-byte-
    * transparent charsets (GB18030) fall back to one chunk per file —
    * char positions there aren't byte positions, so mid-file seeks can't
    * land on statement boundaries. */
  def readChunked(spark: SparkSession, paths: Seq[String],
      minChunkBytes: Long = 256L * 1024 * 1024,
      charset: String = "UTF-8"): DataFrame =
    readChunkedSized(spark, paths.map(p => (p, -1L)), minChunkBytes, charset)

  /** [[readChunked]] with caller-provided file sizes (from discovery, which
    * already stat'd every file) — size -1 = unknown, stat'd here. Knowing
    * sizes up front lets the all-small fast path skip the chunk-planning
    * Spark job without a driver-side stat storm on remote filesystems. */
  def readChunkedSized(spark: SparkSession, pathSizes: Seq[(String, Long)],
      minChunkBytes: Long = 256L * 1024 * 1024,
      charset: String = "UTF-8"): DataFrame = {
    val sortedSized = pathSizes.sortBy(_._1)
    val sorted = sortedSized.map(_._1)
    val confEntries = spark.sparkContext.broadcast(
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => (e.getKey, e.getValue)).toSeq)
    def mkConf(): Configuration = {
      val c = new Configuration(false)
      confEntries.value.foreach { case (k, v) => c.set(k, v) }
      c
    }
    // Chunk planning: a file over minChunkBytes needs a statement-boundary
    // skim (a full read — parallelized as one task per file), but a small
    // file's plan is just (0, fileLen) from metadata. The many-tiny-tables
    // regime (thousands of shard files) would otherwise pay a whole
    // Spark job + broadcast + collect just to stat files the driver
    // already stat'd at discovery — per-table fixed cost, the term that
    // dominates a many-table migration.
    val hconf = spark.sparkContext.hadoopConfiguration
    val sizes = sortedSized.map {
      case (path, known) if known >= 0L => path -> known
      case (path, _) =>
        val p = new Path(path)
        path -> p.getFileSystem(hconf).getFileStatus(p).getLen
    }
    // Pack tiny chunks into fewer partitions: one task per chunk is right
    // when chunks are ≥minChunkBytes splits of big files, but thousands of
    // KB-sized shard files would pay a task launch each in EVERY job over
    // this lineage (write + checksum). Slices preserve chunk order, and
    // per-chunk row indexing is unaffected by co-residency. Packing only
    // applies on the known-small branch — sizes are exact there.
    val (chunks, slices) =
      if (sizes.forall(_._2 <= minChunkBytes)) {
        val cs = sizes.map { case (path, len) =>
          val p = new Path(path)
          if (byteTransparent(resolveCharset(p, p.getFileSystem(hconf), charset)))
            DumpChunk(path, 0L, len, 0L)
          else DumpChunk(path, 0L, Long.MaxValue, 0L)
        }
        // slice count: at least one per core (every downstream job over
        // this lineage — parse, cast, checksum, write — runs one task per
        // slice, so fewer slices than cores idles the rest of the pool),
        // and at least one per ~4 files (parquet-writer init, ~15 ms per
        // file in the downstream write, spreads across the pool while many
        // tiny shards still get a 4× task-count reduction); never more
        // than one per chunk
        val total = sizes.map(_._2).sum
        val byBytes = math.ceil(
          total.toDouble / math.max(1L, minChunkBytes)).toInt
        val floor = Seq(byBytes, math.ceil(cs.size / 4.0).toInt,
          spark.sparkContext.defaultParallelism).max
        (cs, math.max(1, math.min(cs.size, floor)))
      } else {
        val cs = spark.sparkContext
          .parallelize(sorted, math.max(1, sorted.size))
          .flatMap(path =>
            planChunksForCharset(path, mkConf(), minChunkBytes, charset))
          .collect().toSeq
        (cs, math.max(1, cs.size))
      }
    val rdd = spark.sparkContext
      .parallelize(chunks, slices)
      .flatMap(ch => parseChunk(ch, mkConf(), charset))
    spark.createDataFrame(rdd, schema)
  }

  /** Charset-aware chunk planning: byte-transparent charsets split on
    * statement boundaries, stream-decoded ones (GB18030) get one chunk
    * per file. */
  def planChunksForCharset(path: String, conf: Configuration,
      minChunkBytes: Long, charset: String): Seq[DumpChunk] = {
    val p = new Path(path)
    val cs = resolveCharset(p, p.getFileSystem(conf), charset)
    if (byteTransparent(cs)) planChunks(path, conf, minChunkBytes)
    else Seq(DumpChunk(path, 0L, Long.MaxValue, 0L)) // stream-decoded
  }

  /** Parse one planned chunk (byte-exact seek for transparent charsets,
    * whole-file decode otherwise). Row indexes carry the chunk's base. */
  def parseChunk(ch: DumpChunk, conf: Configuration,
      charset: String): Iterator[Row] = {
    val p = new Path(ch.path)
    val fs = p.getFileSystem(conf)
    val cs = resolveCharset(p, fs, charset)
    if (byteTransparent(cs)) {
      val stream = fs.open(p)
      stream.seek(ch.start)
      val in = new BufferedReader(
        new java.io.InputStreamReader(stream, StandardCharsets.ISO_8859_1),
        64 * 1024)
      val recode: String => String =
        if (cs.toLowerCase.startsWith("utf")) utf8Recode else identity
      parseReader(ch.path, in, stopAfterByte = ch.end - ch.start,
        recode = recode)
        .map(r => Row(r.get(0), ch.baseRow + r.getLong(1), r.get(2), r.get(3), r.get(4)))
    } else {
      parseFile(ch.path, conf, cs)
    }
  }

  /** Statement-boundary bookkeeping for the skim pass (thread-local: the
    * iterator callback has no other channel). */
  private final class Boundary(val bytePos: Long, val rowsBefore: Long)
  private val lastBoundary = new ThreadLocal[Boundary]

  // ---------------------------------------------------------------- scanner

  private val EOF = -1

  private def parseReader(file: String, in: BufferedReader,
      trackBoundaries: Boolean = false,
      stopAfterByte: Long = Long.MaxValue,
      recode: String => String = identity): Iterator[Row] =
    new Iterator[Row] {
      // two-char lookahead: `--`/`/*` comment detection must not consume a
      // lone '-' (sign of a negative number) or '/'
      private var look: Int = in.read()
      private var look2: Int = if (look == EOF) EOF else in.read()
      private var rowIdx = 0L
      private var curCols: Seq[String] = null
      private var inValues = false
      private var nextRow: Row = _
      private var done = false
      // position of the consumed prefix. Byte-transparent readers
      // (ISO-8859-1) make 1 char = 1 byte, so statement boundaries are
      // exact byte offsets; charset-decoded readers only use this as a
      // char count (never for splitting).
      private var bytePos = 0L

      private def advance(): Int = {
        val c = look
        if (c != EOF) bytePos += 1
        look = look2
        look2 = if (look == EOF) EOF else in.read()
        c
      }

      /** Called right after consuming a `;`. */
      private def statementEnd(): Unit = {
        if (trackBoundaries) lastBoundary.set(new Boundary(bytePos, rowIdx))
        if (bytePos >= stopAfterByte) { done = true; in.close() }
      }

      private def skipWs(): Unit = {
        var going = true
        while (going) {
          if (look == EOF) going = false
          else if (Character.isWhitespace(look)) advance()
          else if (look == '-'.toInt && look2 == '-'.toInt) {
            while (look != EOF && look != '\n'.toInt) advance()
          } else if (look == '/'.toInt && look2 == '*'.toInt) {
            advance(); advance()
            var prev = 0
            while (look != EOF && !(prev == '*'.toInt && look == '/'.toInt))
              prev = advance()
            if (look != EOF) advance()
          } else going = false
        }
      }

      private def isWordChar(c: Int): Boolean =
        c != EOF && (Character.isLetterOrDigit(c) || c == '_'.toInt)

      private def readWord(): String = {
        val sb = new StringBuilder
        while (isWordChar(look)) sb += advance().toChar
        sb.toString
      }

      /** Inside '…' or "…": backslash escapes + doubled-quote escape
        * (reference escape table: parser.go:244-290). */
      private def readQuoted(q: Int): String = {
        val sb = new StringBuilder
        var closed = false
        while (!closed && look != EOF) {
          val c = advance()
          if (c == '\\'.toInt && look != EOF) {
            val e = advance()
            sb += (e match {
              case '0' => '\u0000'
              case 'b' => '\b'
              case 'n' => '\n'
              case 'r' => '\r'
              case 't' => '\t'
              case 'Z' => '\u001a'
              case other => other.toChar
            })
          } else if (c == q) {
            if (look == q) { sb += q.toChar; advance() } // '' / "" escape
            else closed = true
          } else sb += c.toChar
        }
        sb.toString
      }

      /** After '(' at top level: `a`,`b`,c identifier list until ')'. */
      private def readIdentList(): Seq[String] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var going = true
        while (going) {
          skipWs()
          if (look == EOF) going = false
          else if (look == ')'.toInt) { advance(); going = false }
          else if (look == '`'.toInt) {
            advance()
            val sb = new StringBuilder
            while (look != EOF && look != '`'.toInt) sb += advance().toChar
            if (look == '`'.toInt) advance()
            out += recode(sb.toString)
          } else if (look == ','.toInt) advance()
          else {
            val w = readWord()
            if (w.nonEmpty) out += recode(w) else advance()
          }
        }
        out.toSeq
      }

      private def readNumberTail(sb: StringBuilder): Unit = {
        var going = true
        while (going && look != EOF) {
          val c = look
          if (Character.isDigit(c) || c == '.'.toInt || c == 'e'.toInt || c == 'E'.toInt)
            sb += advance().toChar
          else if ((c == '+'.toInt || c == '-'.toInt) && sb.nonEmpty &&
                   (sb.last == 'e' || sb.last == 'E'))
            sb += advance().toChar
          else going = false
        }
      }

      /** One (…) tuple; called with look just past '('. Returns (vals, kinds). */
      private def readTuple(): (Array[String], Array[Int]) = {
        val vals = scala.collection.mutable.ArrayBuffer.empty[String]
        val kinds = scala.collection.mutable.ArrayBuffer.empty[Int]
        var going = true
        while (going) {
          skipWs()
          val c = look
          if (c == EOF) going = false
          else if (c == ')'.toInt) { advance(); going = false }
          else if (c == ','.toInt) advance()
          else if (c == '\''.toInt || c == '"'.toInt) {
            val q = advance()
            vals += recode(readQuoted(q)); kinds += Kind.Str
          } else if (c == '0'.toInt) {
            advance()
            if (look == 'x'.toInt || look == 'X'.toInt) {
              advance(); vals += readWord(); kinds += Kind.Hex
            } else if (look == 'b'.toInt || look == 'B'.toInt) {
              advance(); vals += readWord(); kinds += Kind.Bit
            } else {
              val sb = new StringBuilder("0"); readNumberTail(sb)
              vals += sb.toString; kinds += Kind.Number
            }
          } else if (c == '-'.toInt || c == '+'.toInt || c == '.'.toInt ||
                     Character.isDigit(c)) {
            val sb = new StringBuilder; sb += advance().toChar
            readNumberTail(sb)
            vals += sb.toString; kinds += Kind.Number
          } else if (c == 'x'.toInt || c == 'X'.toInt) {
            advance()
            if (look == '\''.toInt) { // x'4142' hex-string form
              advance()
              vals += readQuoted('\''.toInt); kinds += Kind.Hex
            } else {
              classifyWord(c.toChar + readWord(), vals, kinds)
            }
          } else if (c == 'b'.toInt || c == 'B'.toInt) {
            // b'0101' bit-string form (reference parser.rl bin token); must
            // consume the quoted body as ONE value or the row misaligns
            advance()
            if (look == '\''.toInt) {
              advance()
              vals += readQuoted('\''.toInt); kinds += Kind.Bit
            } else {
              classifyWord(c.toChar + readWord(), vals, kinds)
            }
          } else if (Character.isLetter(c) || c == '_'.toInt) {
            val w = readWord()
            // mydumper wraps JSON as CONVERT("…" USING UTF8MB4); the
            // reference's grammar treats `convert(` and `using utf8mb4)`
            // as ignorable tokens (parser.rl:43-54) — same transparency
            // here: the inner literal parses as the value, the wrapper
            // contributes nothing
            if (w.equalsIgnoreCase("CONVERT") && look == '('.toInt) {
              advance()
            } else if (w.equalsIgnoreCase("USING")) {
              skipWs(); readWord() // charset name
              skipWs(); if (look == ')'.toInt) advance()
            } else classifyWord(w, vals, kinds)
          } else advance() // lax
        }
        (vals.toArray, kinds.toArray)
      }

      private def classifyWord(w: String,
          vals: scala.collection.mutable.ArrayBuffer[String],
          kinds: scala.collection.mutable.ArrayBuffer[Int]): Unit =
        w.toUpperCase match {
          case "NULL" => vals += null; kinds += Kind.Null
          case "TRUE" => vals += "1"; kinds += Kind.Bool
          case "FALSE" => vals += "0"; kinds += Kind.Bool
          case _ => vals += recode(w); kinds += Kind.Str // lax: keep word
        }

      /** Advance the statement machine until the next tuple or EOF. */
      private def fetch(): Unit = {
        nextRow = null
        while (nextRow == null && !done) {
          skipWs()
          val c = look
          if (c == EOF) { done = true; in.close() }
          else if (inValues) {
            if (c == '('.toInt) {
              advance()
              val (vals, kinds) = readTuple()
              nextRow = Row(file, rowIdx, curCols, vals.toSeq, kinds.toSeq)
              rowIdx += 1
            } else if (c == ','.toInt) advance()
            else if (c == ';'.toInt) {
              advance(); inValues = false; curCols = null; statementEnd()
            } else advance() // lax
          } else {
            if (c == '('.toInt) { advance(); curCols = readIdentList() }
            else if (c == '`'.toInt) {
              advance()
              while (look != EOF && look != '`'.toInt) advance()
              if (look == '`'.toInt) advance()
            } else if (c == '\''.toInt || c == '"'.toInt) {
              val q = advance(); readQuoted(q)
            } else if (c == ';'.toInt) { advance(); curCols = null; statementEnd() }
            else if (Character.isLetter(c)) {
              val w = readWord()
              if (w.equalsIgnoreCase("VALUES") || w.equalsIgnoreCase("VALUE"))
                inValues = true
            } else advance()
          }
        }
      }

      fetch()
      override def hasNext: Boolean = nextRow != null
      override def next(): Row = { val r = nextRow; fetch(); r }
    }
}
