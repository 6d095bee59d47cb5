package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.OwnMethod
import graft.sources.{MysqlColumn, MysqlTable}

/** SQL_MODE strictness: STRICT rejects bad values (raise_error), LENIENT
  * applies MySQL non-strict coercions — clamp on overflow, round fractional
  * → integer, truncate garbage → 0, bad NULL → column default / zero value
  * (reference: lightning/backend/sql2kv.go:165-186 CastValue+HandleBadNull;
  * session flags session.go:95-121; observable matrix tests/sqlmode/). */
sealed trait SqlMode
object SqlMode {
  case object Strict extends SqlMode
  case object Lenient extends SqlMode
}

/** P1–P3: align loosely-typed parsed rows (all strings) to the declared
  * table schema: permute file columns → table column order, fill defaults
  * for missing columns, cast per SQL_MODE.
  *
  * Everything is a plan-time projection of codegen'd Column expressions —
  * one narrow map stage, no shuffle, fused by whole-stage codegen
  * (reference equivalents: restore.go:1356-1406 initializeColumns,
  * sql2kv.go:147-216 encode loop).
  */
object SchemaAlign {

  /** Integer range for clamping in lenient mode, from the *declared* MySQL
    * type (the Spark type alone is ambiguous: mediumint and int both map to
    * IntegerType). */
  private def intRange(mc: MysqlColumn): Option[(BigDecimal, BigDecimal)] = {
    val base = mc.rawType.toLowerCase.takeWhile(_.isLetter)
    val u = mc.unsigned
    base match {
      case "tinyint" => Some(if (u) (BigDecimal(0), BigDecimal(255))
                             else (BigDecimal(-128), BigDecimal(127)))
      case "smallint" => Some(if (u) (BigDecimal(0), BigDecimal(65535))
                              else (BigDecimal(-32768), BigDecimal(32767)))
      case "mediumint" => Some(if (u) (BigDecimal(0), BigDecimal(16777215))
                               else (BigDecimal(-8388608), BigDecimal(8388607)))
      case "int" | "integer" => Some(if (u) (BigDecimal(0), BigDecimal(4294967295L))
                                     else (BigDecimal(Int.MinValue), BigDecimal(Int.MaxValue)))
      case "bigint" if !u => Some((BigDecimal(Long.MinValue), BigDecimal(Long.MaxValue)))
      case "year" => Some((BigDecimal(0), BigDecimal(2155)))
      case _ => None
    }
  }

  /** ENUM/SET domain check (SURVEY §1.2). Matching is CASE-INSENSITIVE and
    * the stored value is the *declared-case* member, like MySQL. ENUM:
    * invalid member → '' in lenient mode (MySQL non-strict coercion), raise
    * in strict. SET: output is rebuilt by filtering the declared member
    * order — which normalizes case, dedups, and orders by definition, the
    * MySQL storage form; invalid members are dropped in lenient mode, any
    * invalid member raises in strict (reference sqlmode matrix,
    * tests/sqlmode/). */
  private def domainCheck(src: Column, mc: MysqlColumn, vals: Seq[String],
      mode: SqlMode): Column = {
    // MySQL's NUMERIC forms (reference fixture tests/various_types:
    // `INSERT INTO enum-set VALUES (154, 11937444798263156608)`): an
    // unquoted integer is an ENUM 1-based index / SET u64 bitmask. Only a
    // digits-only value can mean this — declared members here are textual,
    // so the check is unambiguous (a SET whose MEMBERS are digit strings
    // would need the parser's quoted/bare kind, a corner MySQL itself
    // documents as "don't do that").
    val isNum = src.rlike("^[0-9]+$")
    if (mc.isSet) {
      val inLower = filter(transform(split(src, ","), m => lower(m)),
        m => m =!= "")
      // declared order filtered by membership: normalized-case, deduped,
      // definition-ordered — MySQL's canonical SET representation
      val rebuilt = filter(array(vals.map(lit): _*),
        v => array_contains(inLower, lower(v)))
      val declaredLower = array(vals.map(v => lit(v.toLowerCase)): _*)
      val invalid = array_except(array_distinct(inLower), declaredLower)
      // bitmask path: conv to binary, zero-pad to 64; member i (declared
      // order) is bit i, i.e. 1-based string position 64 - i
      val padded = lpad(conv(src, 10, 2), 64, "0")
      val numRebuilt = filter(
        array(vals.zipWithIndex.map { case (v, i) =>
          when(substring(padded, 64 - i, 1) === "1", lit(v))
        }: _*), x => x.isNotNull)
      val numJoined = array_join(numRebuilt, ",")
      val overflowBits =
        if (vals.size >= 64) lit(false)
        else isNum && substring(padded, 1, 64 - vals.size).contains("1")
      mode match {
        case SqlMode.Lenient =>
          when(src.isNull, lit(null).cast(StringType))
            .when(isNum, numJoined)
            .otherwise(array_join(rebuilt, ","))
        case SqlMode.Strict =>
          when(src.isNull, lit(null).cast(StringType))
            .when(isNum && !overflowBits, numJoined)
            .when(!isNum && size(invalid) === 0, array_join(rebuilt, ","))
            .otherwise(raise_error(concat(
              lit(s"SET value out of domain for `${mc.name}`: "), src)))
      }
    } else {
      // lower(member) → declared-case member lookup; absent key → null
      val lookup = element_at(
        map(vals.flatMap(v => Seq(lit(v.toLowerCase), lit(v))): _*),
        lower(src))
      // index path: 1-based into the declared members; 0 / out-of-range /
      // non-int-sized → null (→ '' lenient, raise strict). The when-guard
      // matters: element_at (try_ included) THROWS on index 0 — MySQL's
      // invalid-ENUM placeholder — rather than returning null, and If
      // evaluates only the taken branch.
      val idx = src.try_cast(IntegerType)
      val numMember = when(idx.isNotNull && idx >= 1,
        try_element_at(array(vals.map(lit): _*), idx))
      mode match {
        case SqlMode.Lenient =>
          when(src.isNull, lit(null).cast(StringType))
            .when(isNum, coalesce(numMember, lit("")))
            .otherwise(coalesce(lookup, lit(""))) // invalid enum → ''
        case SqlMode.Strict =>
          when(src.isNull, lit(null).cast(StringType))
            .when(isNum && numMember.isNotNull, numMember)
            .when(!isNum && lookup.isNotNull, lookup)
            .otherwise(raise_error(concat(
              lit(s"ENUM value out of domain for `${mc.name}`: "), src)))
      }
    }
  }

  /** Cast a string column to `mc`'s Spark type under `mode`.
    * Lenient numeric path: extract leading numeric prefix (MySQL truncation
    * semantics), round half-away-from-zero for integers, clamp to range. */
  def castTo(src: Column, mc: MysqlColumn, mode: SqlMode): Column = {
    val t = mc.sparkType
    mc.enumValues match {
      case Some(vals) if vals.nonEmpty => return domainCheck(src, mc, vals, mode)
      case _ => ()
    }
    // MySQL TIMESTAMP (unlike DATETIME) is range-bound to
    // ['1970-01-01 00:00:01', '2038-01-19 03:14:07'] UTC — strict mode
    // rejects values outside it (the failure tests/checkpoint_error_destroy
    // drives: '1111-11-11 11:11:11' parses but cannot be stored), lenient
    // substitutes the zero value. Comparisons run under the pinned UTC
    // session TZ, so the literals mean the same instants as MySQL's range.
    if (mc.rawType.trim.toLowerCase.startsWith("timestamp") &&
        (t == TimestampType || t == TimestampNTZType)) {
      val base = if (mode == SqlMode.Strict) src.cast(t) else src.try_cast(t)
      // upper bound includes the fractional tail: MySQL stores TIMESTAMP(6)
      // values up to '2038-01-19 03:14:07.999999'
      val inRange = base >= lit("1970-01-01 00:00:01").cast(t) &&
        base <= lit("2038-01-19 03:14:07.999999").cast(t)
      return mode match {
        case SqlMode.Strict =>
          when(base.isNull, base).when(inRange, base)
            .otherwise(raise_error(concat(
              lit(s"TIMESTAMP value out of range for `${mc.name}`: "), src)))
        case SqlMode.Lenient =>
          // only a SUCCESSFULLY parsed but out-of-range value zeroes;
          // malformed input stays null (the existing lenient contract)
          when(base.isNull, base).when(inRange, base).otherwise(zeroValue(mc))
      }
    }
    def numericPrefix: Column =
      regexp_extract(src, "^\\s*([+-]?\\d*\\.?\\d+(?:[eE][+-]?\\d+)?)", 1)
    mode match {
      // Strict: ANSI cast (Spark 4 default) — malformed input raises
      // CAST_INVALID_INPUT, the SQL_MODE=strict behavior.
      case SqlMode.Strict => src.cast(t)
      case SqlMode.Lenient => t match {
        case it @ (ByteType | ShortType | IntegerType | LongType) =>
          // fast path: clean in-range values try_cast directly (no regex);
          // dirty/overflowing values take the clamp/round/prefix slow path.
          // try_cast, NOT cast: a prefix with >28 integer digits overflows
          // DECIMAL(38,10) and a plain cast would raise under ANSI — the
          // lenient contract is clamp, never error; such values are beyond
          // every integer range, so substitute ±Long extremes pre-clamp.
          val overflowSub =
            when(numericPrefix.startsWith("-"), lit(Long.MinValue))
              .otherwise(lit(Long.MaxValue)).cast(DecimalType(38, 10))
          val dec = when(numericPrefix === "" || src.isNull, lit(0))
            .otherwise(coalesce(
              numericPrefix.try_cast(DecimalType(38, 10)), overflowSub))
          val rounded = round(dec, 0)
          val clamped = intRange(mc) match {
            case Some((lo, hi)) =>
              least(greatest(rounded, lit(lo.toString).cast(DecimalType(38, 10))),
                lit(hi.toString).cast(DecimalType(38, 10)))
            case None => rounded
          }
          val slow = clamped.cast(it)
          when(src.isNull, lit(null).cast(it))
            .otherwise(coalesce(src.try_cast(it), slow))
        case FloatType | DoubleType =>
          when(src.isNull, lit(null).cast(t))
            .otherwise(coalesce(src.try_cast(t),
              when(numericPrefix === "", lit(0).cast(t))
                .otherwise(numericPrefix.cast(t))))
        case d: DecimalType =>
          // try_cast: out-of-precision decimals → NULL → 0 (MySQL clamps to
          // the max; 0 keeps the pipeline total; pinned deviation)
          when(src.isNull, lit(null).cast(d))
            .otherwise(coalesce(src.try_cast(d),
              numericPrefix.try_cast(d), lit(0).cast(d)))
        case _ =>
          // strings/binary/temporal: best-effort; bad temporal → null
          src.try_cast(t)
      }
    }
  }

  /** Default-value expression for a missing/NULL-rejected column (P2).
    * CURRENT_TIMESTAMP defaults use the pinned job timestamp for rerun
    * determinism (reference pins SessionOptions.Timestamp,
    * restore.go:1323,1759). */
  def defaultExpr(mc: MysqlColumn, jobTsMicros: Long): Column =
    // an AUTO_INCREMENT column's "default" IS the allocator: align leaves
    // it NULL and the pipeline coalesces the allocated row-id over it
    // (reference restore.go:1363-1406 initializeColumns + AllocateAutoID,
    // tests/default-columns: `u(xx INT UNIQUE AUTO_INCREMENT)` loaded from
    // INSERT statements that only carry `yy`)
    if (mc.autoIncrement) lit(null).cast(mc.sparkType)
    else mc.default match {
      case Some(d) if d.equalsIgnoreCase("CURRENT_TIMESTAMP") ||
                      d.equalsIgnoreCase("NOW()") =>
        timestamp_micros(lit(jobTsMicros)).cast(mc.sparkType)
      case Some(d) if d.equalsIgnoreCase("NULL") => lit(null).cast(mc.sparkType)
      case Some(d) =>
        val lit0 =
          if (d.startsWith("'")) unescapeSqlString(d.substring(1, d.length - 1))
          else d
        lit(lit0).cast(mc.sparkType)
      case None if mc.nullable => lit(null).cast(mc.sparkType)
      case None => zeroValue(mc) // NOT NULL, no default → type zero value
    }

  /** MySQL string-literal unescape for DEFAULT values: backslash escapes
    * (\' \" \\ \n \t \r \0 \b \Z, unknown \x → x) and SQL doubled quotes
    * ('' → ') — `DEFAULT 'it\'s'` must fill `it's`, not `it\'s`. */
  private def unescapeSqlString(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        i += 1
        sb += (s.charAt(i) match {
          case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
          case '0' => '\u0000'; case 'b' => '\b'; case 'Z' => '\u001a'
          case other => other
        })
      } else if (c == '\'' && i + 1 < s.length && s.charAt(i + 1) == '\'') {
        sb += '\''; i += 1
      } else sb += c
      i += 1
    }
    sb.toString
  }

  /** MySQL "zero value" per type (lenient HandleBadNull target). */
  def zeroValue(mc: MysqlColumn): Column = mc.sparkType match {
    case StringType => lit("")
    case BinaryType => lit(Array.empty[Byte])
    case DateType => lit("1970-01-01").cast(DateType)
    case TimestampType | TimestampNTZType =>
      lit("1970-01-01 00:00:00").cast(mc.sparkType)
    case _ => lit(0).cast(mc.sparkType)
  }

  /** True when `cs` means "values are raw bytes carried as Latin-1 chars"
    * (the binary-charset passthrough): a BINARY target must then take
    * `encode(src, ISO-8859-1)` — a plain cast would re-encode as UTF-8 and
    * corrupt bytes ≥ 0x80. */
  private def latin1Bytes(cs: String): Boolean = {
    val c = cs.toLowerCase
    c == "binary" || c == "iso-8859-1" || c == "latin1"
  }

  private def strCast(src: Column, mc: MysqlColumn, mode: SqlMode,
      valueCharset: String): Column =
    if (latin1Bytes(valueCharset) && mc.sparkType == BinaryType)
      encode(src, "ISO-8859-1")
    else castTo(src, mc, mode)

  /** The reference's `_tidb_rowid` pseudo-column (restore.go:1363-1406,
    * tests/tidb_rowid/): a dump exported with explicit row handles names it
    * in the file's column list; align routes it to the row handle instead
    * of treating it as an unknown column. */
  val TidbRowId = "_tidb_rowid"

  /** P1+P2+P3 over *named* string columns (CSV path).
    * `fileCols` is the file's column order; names matched case-insensitively
    * against the table schema. Missing table columns get defaults.
    * `emitExplicitRowId`: append `_explicit_rowid` (LongType, null when the
    * file does not carry `_tidb_rowid`) — the pipeline coalesces it over
    * the synthesized allocation, mirroring the reference's rowid routing. */
  def fromColumns(df: DataFrame, srcCols: Seq[String], table: MysqlTable,
                  mode: SqlMode, jobTsMicros: Long = 0L,
                  keep: Seq[Column] = Nil,
                  valueCharset: String = "UTF-8",
                  emitExplicitRowId: Boolean = false): DataFrame = {
    val srcIdx = srcCols.map(_.toLowerCase).zipWithIndex.toMap
    val dfCols = df.columns
    val projected = table.columns.map { mc =>
      srcIdx.get(mc.name.toLowerCase) match {
        case Some(i) =>
          val src = col(dfCols(i))
          val casted = strCast(src, mc, mode, valueCharset)
          val withNullFix =
            if (!mc.nullable && mode == SqlMode.Lenient)
              coalesce(casted, defaultExpr(mc, jobTsMicros))
            else casted
          withNullFix.as(mc.name)
        case None => defaultExpr(mc, jobTsMicros).as(mc.name)
      }
    }
    val rowIdCol =
      if (!emitExplicitRowId) Nil
      else Seq((srcIdx.get(TidbRowId) match {
        case Some(i) => col(dfCols(i)).cast(LongType)
        case None => lit(null).cast(LongType)
      }).as("_explicit_rowid"))
    df.select(keep ++ projected ++ rowIdCol: _*)
  }

  /** Decode a hex-literal string (`0x4142` / `x'4142'` body, no prefix) to
    * `mc`'s type: bytes for binary/string targets (MySQL: a hex literal in
    * string context IS the byte string), numeric reading for numeric targets
    * (`0x10` = 16, reference ParseHexStr — parser.go:474-486). Odd-length
    * `0xABC` gets a leading 0 like MySQL — `unhex` itself pads odd input. */
  private def hexDecode(src: Column, mc: MysqlColumn, mode: SqlMode): Column = {
    mc.sparkType match {
      case BinaryType => unhex(src)
      case StringType => unhex(src).cast(StringType)
      // parser-tagged hex bodies are clean [0-9a-f]+ — a direct try_cast of
      // the base-10 reading keeps this branch small (the full lenient
      // castTo tree here would triple every column's codegen size)
      case t => conv(src, 16, 10).try_cast(t)
    }
  }

  /** Decode a bit-literal string (`b'0101'` body / `0b0101` tail) likewise
    * (reference ParseBitStr). */
  private def bitDecode(src: Column, mc: MysqlColumn, mode: SqlMode): Column = {
    val nonEmpty = when(src === "", lit("0")).otherwise(src)
    mc.sparkType match {
      case BinaryType | StringType =>
        val bytes = unhex(conv(nonEmpty, 2, 16)) // odd hex length padded
        if (mc.sparkType == BinaryType) bytes else bytes.cast(StringType)
      case t => conv(nonEmpty, 2, 10).try_cast(t) // clean [01]+ body
    }
  }

  /** P1+P2+P3 over the SQL-dump array representation: `valsCol` is an
    * array<string> in statement order; `stmtCols` (when the INSERT carried a
    * column list) overrides positional order. `kindsCol` (the parser's
    * per-value kind tags) enables hex/bit literal decoding — without it a
    * BINARY column fed `0x4142` would store the text "4142". */
  def fromArray(df: DataFrame, valsCol: Column, stmtCols: Option[Seq[String]],
                table: MysqlTable, mode: SqlMode, jobTsMicros: Long = 0L,
                keep: Seq[Column] = Nil,
                kindsCol: Option[Column] = None,
                valueCharset: String = "UTF-8"): DataFrame = {
    import graft.sources.SqlDumpSource.Kind
    val order = stmtCols.getOrElse(table.columns.map(_.name))
    val srcIdx = order.map(_.toLowerCase).zipWithIndex.toMap
    val projected = table.columns.map { mc =>
      srcIdx.get(mc.name.toLowerCase) match {
        case Some(i) =>
          val src = valsCol.getItem(i)
          val casted = kindsCol match {
            case Some(kc) =>
              when(kc.getItem(i) === Kind.Hex, hexDecode(src, mc, mode))
                .when(kc.getItem(i) === Kind.Bit, bitDecode(src, mc, mode))
                .otherwise(strCast(src, mc, mode, valueCharset))
            case None => strCast(src, mc, mode, valueCharset)
          }
          val withNullFix =
            if (!mc.nullable && mode == SqlMode.Lenient)
              coalesce(casted, defaultExpr(mc, jobTsMicros))
            else casted
          withNullFix.as(mc.name)
        case None => defaultExpr(mc, jobTsMicros).as(mc.name)
      }
    }
    df.select(keep ++ projected: _*)
  }

  /** Like `fromArray`, but resolves the column permutation *per row* from
    * the carried statement column list (reference realigns per statement,
    * restore.go:1356-1406) — a dump whose INSERTs carry different column
    * lists (shard-merged tables, mixed explicit/implicit INSERTs) aligns
    * correctly instead of inheriting one file's permutation. Columns absent
    * from a row's list get the declared default.
    *
    * Plan shape: the per-row position probe runs once per row in stacked
    * projections below the casts, and each column's cast tree references
    * only the probed attributes:
    *   1. the lower-cased statement list;
    *   2. each table column's 1-based value position (null = absent) — a
    *      constant for rows with no list or one equal to table order (the
    *      mydumper default), an `array_position` only for genuinely
    *      permuted lists — plus the explicit `_tidb_rowid` value;
    *   3. each column's value and kind tag;
    *   4. the cast trees.
    * Each cast tree references its value several times, so the optimizer
    * keeps the levels apart instead of inlining the probe into every
    * reference, and no level holds a lambda, so all four fuse into one
    * whole-stage-codegen stage. Each per-column expression is an
    * [[OwnMethod]]: inlined, the 15 casts of a lineitem-wide table make a
    * method too large for the JIT, and the stage runs interpreted. */
  def fromArrayPerStatement(df: DataFrame, valsCol: Column, stmtColsCol: Column,
                table: MysqlTable, mode: SqlMode, jobTsMicros: Long = 0L,
                keep: Seq[Column] = Nil,
                kindsCol: Option[Column] = None,
                valueCharset: String = "UTF-8",
                emitExplicitRowId: Boolean = false): DataFrame = {
    import graft.sources.SqlDumpSource.Kind
    // internal attribute names: a prefix no input or table column starts with
    val taken = (df.columns ++ table.columns.map(_.name)).map(_.toLowerCase)
    val p = Iterator.iterate("_align_")("_" + _)
      .find(q => !taken.exists(_.startsWith(q))).get
    def a(name: String): Column = col(s"$p$name")
    // lower-cased without a lambda (a higher-order function would keep its
    // projection out of whole-stage codegen): MySQL identifiers cannot
    // contain U+0000, so it is a safe join/split separator
    val sep = "\u0000"
    val joined = lower(array_join(stmtColsCol, sep))
    val lowered = df.select(col("*"), split(joined, sep).as(s"${p}cols"),
      (stmtColsCol.isNull ||
        joined === lit(table.columns.map(_.name.toLowerCase).mkString(sep)))
        .as(s"${p}positional"))
    def position(name: String): Column = {
      val pos = array_position(a("cols"), lit(name))
      when(pos > 0, pos.cast(IntegerType))
    }
    // only an EXPLICIT statement column list can carry _tidb_rowid (the
    // positional default order never includes the pseudo-column); a null
    // list or an absent name gives a null position → null rowid
    val rowIdProbe =
      if (!emitExplicitRowId) Nil
      else Seq(OwnMethod(try_element_at(valsCol, position(TidbRowId))
        .cast(LongType)).as(s"${p}rowid"))
    val indexed = lowered.select(col("*") +: (table.columns.zipWithIndex.map {
      case (mc, ti) => OwnMethod(when(a("positional"), lit(ti + 1))
        .otherwise(position(mc.name.toLowerCase))).as(s"${p}i$ti")
    } ++ rowIdProbe): _*)
    val probed = indexed.select(col("*") +: table.columns.indices.flatMap { ti =>
      val idx = a(s"i$ti")
      OwnMethod(try_element_at(valsCol, idx)).as(s"${p}v$ti") +:
        kindsCol.toSeq.map(kc => OwnMethod(
          coalesce(try_element_at(kc, idx), lit(Kind.Null))).as(s"${p}k$ti"))
    }: _*)
    val projected = table.columns.zipWithIndex.map { case (mc, ti) =>
      val src = a(s"v$ti")
      val casted = kindsCol match {
        case Some(_) =>
          val kind = a(s"k$ti")
          when(kind === Kind.Hex, hexDecode(src, mc, mode))
            .when(kind === Kind.Bit, bitDecode(src, mc, mode))
            .otherwise(strCast(src, mc, mode, valueCharset))
        case None => strCast(src, mc, mode, valueCharset)
      }
      val withNullFix =
        if (!mc.nullable && mode == SqlMode.Lenient)
          coalesce(casted, defaultExpr(mc, jobTsMicros))
        else casted
      // column absent from this statement's list → declared default
      OwnMethod(when(a(s"i$ti").isNotNull, withNullFix)
        .otherwise(defaultExpr(mc, jobTsMicros)))
        .as(mc.name)
    }
    val rowIdCol =
      if (!emitExplicitRowId) Nil else Seq(a("rowid").as("_explicit_rowid"))
    probed.select(keep ++ projected ++ rowIdCol: _*)
  }
}
