package graft.adtl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The adtl `apply` scalar function library, re-expressed as Spark Column
  * combinators so every transformation stays inside Catalyst codegen — no
  * row-at-a-time interpretation.
  * Semantics mirror /root/reference/src/adtl/transformations.py (studied,
  * not copied): null/"" propagation, strftime formats, the %y century pivot
  * with an epoch override, pint's Julian-year day→year factor.
  *
  * Params arrive pre-resolved by the rule compiler: `$field` references are
  * PCol (raw source column), literals are PLit, lists are PList.
  */
object Transformations {

  sealed trait TParam
  final case class PCol(c: Column) extends TParam
  final case class PLit(v: Any) extends TParam
  final case class PList(items: List[TParam]) extends TParam

  final case class TCtx(returnUnmatched: Boolean)

  type TransformFn = (Column, List[TParam], TCtx) => Column

  /** User-extensible registry (reference: --include-transform loads Python
    * files, parser.py:197-240; here: a Scala registry API — F17). */
  final class Registry {
    private val fns = scala.collection.mutable.LinkedHashMap[String, TransformFn](builtins.toSeq: _*)
    def register(name: String, fn: TransformFn): Unit = {
      if (fns.contains(name))
        System.err.println(s"Warning: overwriting existing transformation function: $name")
      fns(name) = fn
    }
    def apply(name: String): TransformFn = fns.getOrElse(name,
      throw new IllegalArgumentException(
        s"Error using a data transformation: Function $name has not been defined."))
    def contains(name: String): Boolean = fns.contains(name)
  }

  def newRegistry(): Registry = new Registry

  /** JVM analogue of the reference's `--include-transform file.py`
    * (parser.py:197-240): a named bundle of transform functions. Resolved
    * by provider name (programmatic registration or ServiceLoader) or by
    * fully-qualified class name. */
  trait TransformProvider {
    def name: String
    def transforms: Map[String, TransformFn]
  }

  private val providerRegistry =
    scala.collection.mutable.LinkedHashMap[String, TransformProvider]()

  def registerProvider(p: TransformProvider): Unit =
    providerRegistry.synchronized { providerRegistry(p.name) = p }

  /** Resolve by registered/ServiceLoader provider name, else try the
    * argument as a class name. Mirrors the reference's FileNotFoundError
    * message shape on failure. */
  def resolveProvider(name: String): TransformProvider = {
    providerRegistry.synchronized(providerRegistry.get(name)).getOrElse {
      val fromSpi = {
        import scala.jdk.CollectionConverters._
        java.util.ServiceLoader.load(classOf[TransformProvider])
          .iterator().asScala.find(_.name == name)
      }
      fromSpi.getOrElse {
        try Class.forName(name).getDeclaredConstructor()
          .newInstance().asInstanceOf[TransformProvider]
        catch {
          case scala.util.control.NonFatal(_) =>
            throw new java.io.FileNotFoundException(s"No such file: $name")
        }
      }
    }
  }

  /** Registry with a provider's functions layered on the builtins (the
    * reference warns on overwrite; Registry.register does the same). */
  def registryWith(providerName: String): Registry = {
    val reg = newRegistry()
    resolveProvider(providerName).transforms.foreach { case (n, fn) =>
      reg.register(n, fn)
    }
    reg
  }

  // ---- helpers ----------------------------------------------------------

  private def pcol(p: TParam): Column = p match {
    case PCol(c) => c
    case PLit(null) => lit(null)
    case PLit(v) => lit(v)
    case PList(items) => array(items.map(pcol): _*)
  }

  private def plit(p: TParam): Any = p match {
    case PLit(v) => v
    case other => throw new IllegalArgumentException(s"expected literal param, got $other")
  }

  private def optLit(params: List[TParam], i: Int, default: Any): Any =
    if (params.length > i) plit(params(i)) else default

  // compare on a string rendering: literal params can be numeric columns,
  // and ANSI mode would otherwise cast "" to the numeric type and throw
  private def nonEmpty(c: Column): Column = c.isNotNull && c.cast("string") =!= ""

  /** Parse a string column with a strftime format → timestamp, replicating
    * Python strptime's %y pivot (69-99 → 19xx; Java would give 20xx). */
  def parseTs(c: Column, strf: String): Column = {
    val t = DateFormats.translate(strf)
    val ts = try_to_timestamp(c, lit(t.parsePattern))
    // Once: the pivot branch references the parse 3×; without the
    // binding every downstream guard multiplies the gettimestamp calls
    // (adtl_apply_dates measured 19 parses/row before round 15)
    if (t.twoDigitYear)
      graft.functions.Once.once(ts)(x =>
        when(year(x) >= 2069,
          x - expr("make_interval(100, 0, 0, 0, 0, 0, 0)")).otherwise(x))
    else ts
  }

  /** correctOldDate core: strptime + century fix, then epoch pivot — years
    * parsed ≥ epoch (only when the format has %y) shift back a century. */
  def parseTsEpoch(c: Column, strf: String, epoch: Double): Column = {
    val t = DateFormats.translate(strf)
    if (!t.twoDigitYear) parseTs(c, strf)
    else {
      // FLATTENED two-pivot chain (round 15): the naive nested
      // when/otherwise referenced the parse 3×3×, and the chained
      // century−epoch subtractions can fold into one year-month interval
      // because year(x − 100y) = year(x) − 100 EXACTLY (month/day are
      // preserved or clamped, never the year), so the epoch test on the
      // century-fixed value reads yr − 100 — no re-parse. The single
      // combined subtraction equals the chained pair on every input:
      // Feb-29 clamping to Feb-28 happens at most once in both forms
      // (a chain step that clamps leaves day 28, which no later step
      // moves), and non-leap-day dates never clamp. Unparseable → raw
      // null → yr null → both whens fall through to 0 → null + 0 = null,
      // the chained form's result. 4 parses/row instead of 9.
      val raw = try_to_timestamp(c, lit(t.parsePattern))
      val yr = year(raw)
      val adj = when(yr >= 2069,
          when(yr - 100 >= epoch, -200).otherwise(-100))
        .otherwise(when(yr >= epoch, -100).otherwise(0))
      raw + make_ym_interval(adj, lit(0))
    }
  }

  /** Python datetime.isoformat() with tz offset: local wall time formatted
    * plus the zone's UTC offset at that instant (e.g. 2022-02-20T10:30:00+09:00). */
  private def isoWithOffset(local: Column, tz: String): Column = {
    val utc = to_utc_timestamp(local, tz)
    val off = local.cast("long") - utc.cast("long")
    val sign = when(off < 0, "-").otherwise("+")
    val aoff = abs(off)
    concat(
      date_format(local, "yyyy-MM-dd'T'HH:mm:ss"), sign,
      lpad((aoff / 3600).cast("long").cast("string"), 2, "0"), lit(":"),
      lpad(((aoff % 3600) / 60).cast("long").cast("string"), 2, "0"))
  }

  /** Python str(float) rendering: integral doubles keep the trailing .0. */
  private def pyNum(d: Column): Column =
    when(d === floor(d) && abs(d) < 1e15,
      concat(d.cast("bigint").cast("string"), lit(".0")))
      .otherwise(d.cast("string"))

  // ---- the library ------------------------------------------------------

  val builtins: Map[String, TransformFn] = Map(
    // F1: value not in {null, ""}
    "isNotNull" -> ((v, _, _) => nonEmpty(v)),
    // F2: constant if value non-null
    "textIfNotNull" -> ((v, ps, _) => when(nonEmpty(v), pcol(ps.head))),
    // F3: word-boundary case-insensitive regex substitutions → sorted set;
    // no match on non-empty input → null (or raw under returnUnmatched,
    // handled by the caller via string rendering).
    "wordSubstituteSet" -> { (v, ps, ctx) =>
      val pairs = ps.map {
        case PList(List(a, b)) => (plit(a).toString, plit(b).toString)
        case other => throw new IllegalArgumentException(
          s"wordSubstituteSet: params item not a tuple or list: $other")
      }
      val cands = array(pairs.map { case (re, sub) =>
        when(v.rlike("(?i)\\b" + re + "\\b"), lit(sub))
      }: _*)
      val kept = filter(cands, x => x.isNotNull)
      val matched = when(size(kept) > 0, array_sort(array_distinct(kept)))
      if (ctx.returnUnmatched) {
        // string column: matched set rendered Python-repr, raw pass-through
        // on no-match (reference warns + keeps the value)
        val repr = concat(lit("["), array_join(
          transform(matched, x => concat(lit("'"), x, lit("'"))), ", "), lit("]"))
        when(size(kept) > 0, repr).otherwise(when(nonEmpty(v), v))
      } else matched
    },
    // F4: locale-aware float extraction; under returnUnmatched the column
    // becomes string-typed and unconvertible values pass through (the
    // reference's mixed-type behavior, reference cli.py blocks parquet)
    "getFloat" -> { (v, ps, ctx) =>
      val setDecimal = Option(optLit(ps, 0, null)).map(_.toString)
      val separator = Option(optLit(ps, 1, null)).map(_.toString)
      var x = regexp_replace(regexp_replace(v, "^\"|\"$", ""), " ", "")
      var intPart: Column = null
      var fracPart: Column = null
      setDecimal.foreach { dec =>
        // str.partition splits at the FIRST occurrence (the reference's
        // comment claims "last" but partition() is first-match), and always
        // re-joins with '.' — "15" becomes "15." (still parses as 15.0)
        val pre = substring_index(x, dec, 1)
        val rest = x.substr(length(pre) + lit(dec.length + 1), length(x))
        intPart = pre
        fracPart = rest
        x = concat(pre, lit("."), rest)
      }
      separator.foreach { sep =>
        if (sep != ".")
          x = regexp_replace(x, java.util.regex.Pattern.quote(sep), "")
        else if (intPart != null)
          // '.' thousands separators strip from the integer part only,
          // preserving the decimal point re-inserted by set_decimal
          x = concat(regexp_replace(intPart, "\\.", ""), lit("."), fracPart)
      }
      val nums = regexp_extract_all(x, lit("[-+]?\\d*\\.?\\d+"), lit(0))
      val parsed = when(size(nums) === 1, element_at(nums, 1).cast("double"))
        .otherwise(try_cast(x, "double"))
      if (ctx.returnUnmatched)
        when(nonEmpty(v), when(parsed.isNotNull, pyNum(parsed)).otherwise(x))
      else when(nonEmpty(v), parsed)
    },
    // F5: ≤1 → ×100. The reference passes unparseable values through
    // unchanged (unconditionally); mirrored here under returnUnmatched,
    // where the column degrades to string — without the flag the column
    // stays double-typed (Spark-native) and unparseable values null out
    // (documented divergence, flagged by validation).
    "Percentage" -> { (v, _, ctx) =>
      val x = try_cast(v.cast("string"), "double")
      val pct = when(x > 1, x).otherwise(x * 100)
      if (ctx.returnUnmatched)
        when(nonEmpty(v), when(x.isNotNull, pyNum(pct)).otherwise(v))
      else when(x.isNotNull, pct)
    },
    // F6: fractional years between dates (pint days→years: /365.25)
    "yearsElapsed" -> { (v, ps, _) =>
      val cd = pcol(ps.head)
      val epoch = plit(ps(1)).toString.toDouble
      val bdF = optLit(ps, 2, "%Y-%m-%d").toString
      val cdF = optLit(ps, 3, "%Y-%m-%d").toString
      val bd = parseTsEpoch(v, bdF, epoch)
      val c = parseTs(cd, cdF)
      when(nonEmpty(v) && nonEmpty(cd),
        datediff(c.cast("date"), bd.cast("date")) / lit(365.25))
    },
    // F7: whole days between dates
    "durationDays" -> { (v, ps, _) =>
      val cd = pcol(ps.head)
      val f = optLit(ps, 1, "%Y-%m-%d").toString
      when(nonEmpty(v) && nonEmpty(cd),
        datediff(parseTs(cd, f).cast("date"), parseTs(v, f).cast("date")).cast("long"))
    },
    // F8: end − duration days (fractional durations via timestamp arithmetic)
    "startDate" -> { (v, ps, _) =>
      val dur = pcol(ps.head)
      val d = try_cast(dur.cast("string"), "double")
      val ed = parseTs(v, "%Y-%m-%d")
      when(nonEmpty(v) && nonEmpty(dur),
        date_format(ed - make_dt_interval(lit(0), lit(0), lit(0), d * 86400),
          "yyyy-MM-dd"))
    },
    // F9: start + duration days, formatted with the source format
    "endDate" -> { (v, ps, _) =>
      val dur = pcol(ps.head)
      val f = optLit(ps, 1, "%Y-%m-%d").toString
      val d = try_cast(dur.cast("string"), "double")
      val sd = parseTs(v, f)
      when(nonEmpty(v) && nonEmpty(dur),
        date_format(sd + make_dt_interval(lit(0), lit(0), lit(0), d * 86400),
          DateFormats.translate(f).javaPattern))
    },
    // F10: compose ISO date from year/month/day; invalid → null (or the
    // raw field value under returnUnmatched)
    "makeDate" -> { (v, ps, ctx) =>
      val m = pcol(ps.head); val d = pcol(ps(1))
      val made = date_format(try_to_date(concat_ws("-", v, m, d), "y-M-d"), "yyyy-MM-dd")
      if (ctx.returnUnmatched)
        when(nonEmpty(v) && nonEmpty(m) && nonEmpty(d),
          coalesce(made, v))
      else when(nonEmpty(v) && nonEmpty(m) && nonEmpty(d), made)
    },
    // F11: date + seconds-of-day → tz-aware ISO datetime (date-only when
    // the seconds column is empty)
    "makeDateTimeFromSeconds" -> { (v, ps, _) =>
      val secs = pcol(ps.head)
      val fmt = plit(ps(1)).toString
      val tz = plit(ps(2)).toString
      val base = parseTs(v, fmt)
      val secI = try_cast(secs.cast("string"), "bigint")
      val local = base + make_dt_interval(lit(0),
        (secI / 3600).cast("int"), ((secI % 3600) / 60).cast("int"), lit(0.0))
      when(nonEmpty(v),
        when(!nonEmpty(secs), date_format(base, "yyyy-MM-dd"))
          .otherwise(isoWithOffset(local, tz)))
    },
    // F12: date + "HH:MM" → tz-aware ISO datetime
    "makeDateTime" -> { (v, ps, _) =>
      val t24 = pcol(ps.head)
      val fmt = plit(ps(1)).toString
      val tz = plit(ps(2)).toString
      val base = parseTs(v, fmt)
      val local = base +
        make_dt_interval(lit(0), split(t24, ":").getItem(0).cast("int"),
          split(t24, ":").getItem(1).cast("int"), lit(0.0))
      when(nonEmpty(v),
        when(!nonEmpty(t24), date_format(base, "yyyy-MM-dd"))
          .otherwise(isoWithOffset(local, tz)))
    },
    // F13: year/month/day extraction with century fix
    "splitDate" -> { (v, ps, _) =>
      val option = plit(ps.head).toString
      val epoch = plit(ps(1)).toString.toDouble
      val f = optLit(ps, 2, "%Y-%m-%d").toString
      val ts = parseTsEpoch(v, f, epoch)
      option match {
        case "year" => year(ts).cast("long")
        case "month" => month(ts).cast("long")
        case "day" => dayofmonth(ts).cast("long")
        case other => lit(null)
      }
    },
    // F14: start year from duration + date (value = duration)
    "startYear" -> ((v, ps, ctx) => startYearMonth(v, ps, wantYear = true)),
    // F15: start month analogue (no 'years' branch, per reference)
    "startMonth" -> ((v, ps, ctx) => startYearMonth(v, ps, wantYear = false)),
    // F16: century pivot correction, ISO string out
    "correctOldDate" -> { (v, ps, _) =>
      val epoch = plit(ps.head).toString.toDouble
      val f = plit(ps(1)).toString
      when(nonEmpty(v), date_format(parseTsEpoch(v, f, epoch), "yyyy-MM-dd"))
    })

  /** Shared core of startYear/startMonth (transformations.py:351-443). */
  private def startYearMonth(v: Column, ps: List[TParam], wantYear: Boolean): Column = {
    // currentdate may be a list of candidate fields: first non-empty wins
    val cd = ps.head match {
      case PList(items) =>
        val cols = items.map(pcol).map(c => when(nonEmpty(c), c))
        coalesce(cols: _*)
      case p => pcol(p)
    }
    val epoch = plit(ps(1)).toString.toDouble
    val fmt = optLit(ps, 2, "%Y-%m-%d").toString
    val durType = optLit(ps, 3, "years").toString
    val provideMd: Option[(Any, Any)] = if (ps.length > 4) ps(4) match {
      case PList(List(a, b)) => Some((plit(a), plit(b)))
      case PLit(false) => None
      case PLit(null) => None
      case other => None
    } else None

    val base = provideMd match {
      case Some((m, d)) =>
        try_to_timestamp(concat_ws("-", cd, lit(m.toString), lit(d.toString)), lit("y-M-d"))
      case None => parseTsEpoch(cd, fmt, epoch)
    }
    val dur = try_cast(v.cast("string"), "double")
    val shifted = durType match {
      case "years" =>
        // only used by startYear: year - floor(duration)
        base
      case "months" => add_months(base, -floor(dur).cast("int")).cast("timestamp")
      case "days" => base - make_dt_interval(lit(0), lit(0), lit(0), dur * 86400)
      case other => lit(null).cast("timestamp")
    }
    val guarded = when(nonEmpty(v) && nonEmpty(cd), lit(1))
    if (wantYear) {
      val res = durType match {
        case "years" => (year(base) - floor(dur)).cast("long")
        case _ => year(shifted).cast("long")
      }
      when(guarded.isNotNull, res)
    } else {
      val res = durType match {
        case "months" | "days" => month(shifted).cast("long")
        case _ => lit(null).cast("long")
      }
      when(guarded.isNotNull, res)
    }
  }
}
