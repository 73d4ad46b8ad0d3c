package graft.kg

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Exact.dayStr
import graft.util.Memo
import Triples.NS

/** RDF text serialization of the statement store — the reference's
  * actual shipped artifact: `data-modeling/create-rdf.py:16–21`
  * materializes the mapped graph and writes Turtle
  * (`save_rdf("output/kg_v1.ttl")`) and JSON-LD (`save_jsonld(...)`),
  * with IRIs templated from the `prefixes:` block of
  * `data-modeling/mappings/kg_v1.yml` (`ex_book:
  * "http://example.com/book/"`, `schema: "https://schema.org/"`).
  * Here the same round trip closes over [[Triples]]: namespaced
  * integer ids template back into per-entity-type IRIs, literals get
  * N-Triples escaping and language tags, the synthetic order-date arm
  * exercises typed-literal lexical forms (`"…"^^xsd:date`), and
  * rdf:type rows reify the namespace as the entity's class (the
  * `[a, schema:Book]` row of every kg_v1.yml mapping).
  *
  * Scale: all three exports are PROJECTION-ONLY — string concatenation
  * over the statement scan, whole-stage codegen, zero shuffle, zero
  * UDFs (escaping is a chain of native `replace` calls). At 100 TB
  * this runs at scan speed and writes straight out; the only
  * non-statement inputs are the per-table key scans of
  * [[Triples.entityIds]] (column-pruned) and the orders date column.
  */
object Rdf {

  private val Base = "http://example.com/"
  private val Xsd = "http://www.w3.org/2001/XMLSchema#"
  private val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

  private val nsNames = Seq(
    Triples.REGION -> "region", Triples.NATION -> "nation",
    Triples.CUSTOMER -> "customer", Triples.SUPPLIER -> "supplier",
    Triples.PART -> "part", Triples.ORDER -> "order")

  /** Entity-type segment of a namespaced id (codegen'd when-chain;
    * ids are < 7e12, so the double division is exact). */
  private def nsName(idc: Column): Column = {
    val ns = (idc / lit(NS)).cast("long")
    nsNames.tail.foldLeft(when(ns === nsNames.head._1.toLong, nsNames.head._2)) {
      case (acc, (n, s)) => acc.when(ns === n.toLong, s)
    }
  }
  private def key(idc: Column): Column = (idc % lit(NS)).cast("string")

  private def nsNameSql(e: String): String =
    s"CASE CAST(($e) // $NS AS INTEGER) " +
      nsNames.map { case (n, s) => s"WHEN $n THEN '$s'" }.mkString(" ") + " END"
  private def keySql(e: String): String = s"CAST(($e) % $NS AS VARCHAR)"

  /** N-Triples/Turtle/JSON string-literal escaping: backslash FIRST,
    * then quote, then the control characters (the W3C N-Triples
    * canonical set; same chain is valid for JSON strings). */
  private val escPairs = Seq(
    "\\" -> "\\\\", "\"" -> "\\\"", "\n" -> "\\n", "\r" -> "\\r", "\t" -> "\\t")
  private[graft] def esc(c: Column): Column =
    escPairs.foldLeft(c) { case (acc, (s, r)) =>
      call_function("replace", acc, lit(s), lit(r))
    }
  // chr() codes keep the SQL free of backslash-in-quote soup:
  // 92 backslash, 34 quote, 10 LF, 13 CR, 9 TAB.
  private def escSql(e: String): String = {
    val steps = Seq(
      ("chr(92)", "chr(92)||chr(92)"), ("chr(34)", "chr(92)||chr(34)"),
      ("chr(10)", "chr(92)||'n'"), ("chr(13)", "chr(92)||'r'"), ("chr(9)", "chr(92)||'t'"))
    steps.foldLeft(e) { case (acc, (s, r)) => s"replace($acc, $s, $r)" }
  }

  /** Absolute IRI (no brackets) for a namespaced id. */
  private def iriPlain(idc: Column): Column =
    concat(lit(Base), nsName(idc), lit("/"), key(idc))
  private def iriPlainSql(e: String): String =
    s"'$Base' || ${nsNameSql(e)} || '/' || ${keySql(e)}"
  /** Bracketed IRI term. */
  private def iri(idc: Column): Column = concat(lit("<"), iriPlain(idc), lit(">"))
  private def iriSql(e: String): String = s"'<' || ${iriPlainSql(e)} || '>'"

  /** The object term of a statement row in N-Triples form. */
  private def ntObject: Column =
    when(col("o_id").isNotNull, iri(col("o_id")))
      .when(col("lang").isNotNull,
        concat(lit("\""), esc(col("o_val")), lit("\"@"), col("lang")))
      .otherwise(concat(lit("\""), esc(col("o_val")), lit("\"")))
  private def ntObjectSql: String =
    s"""CASE WHEN o_id IS NOT NULL THEN ${iriSql("o_id")}
       |     WHEN lang IS NOT NULL THEN chr(34) || ${escSql("o_val")} || chr(34) || '@' || lang
       |     ELSE chr(34) || ${escSql("o_val")} || chr(34) END""".stripMargin

  /** kg_export_nt — the statement store rendered as N-Triples lines
    * (`create-rdf.py`'s `save_rdf`, in the line-based member of the
    * Turtle family; the reference's publishing dir ships `.nt`).
    * Three arms: statements (entity objects as IRIs, labels as
    * language-tagged literals, other literals escaped + quoted),
    * rdf:type rows from the entity-id universe, and the order-date
    * typed-literal arm (`"1996-01-02"^^xsd:date`). */
  /** Render any statements-shaped frame `(s, p, o_id, o_val, lang)`
    * as N-Triples lines — the reusable statements arm of
    * [[kgExportNt]] (RdfPropSpec round-trips random literals through
    * render→[[parseNt]]). */
  def renderNt(statements: DataFrame): DataFrame =
    statements.select(
      concat(iri(col("s")), lit(s" <${Base}prop/"), col("p"), lit("> "),
        ntObject, lit(" .")).as("nt"))

  private def ntLines(spark: SparkSession, dir: String): DataFrame = {
    val stmts = renderNt(Triples.statements(spark, dir))
    val types = Triples.entityIds(spark, dir).select(
      concat(iri(col("id")), lit(s" <$RdfType> <${Base}class/"),
        nsName(col("id")), lit("> .")).as("nt"))
    val dates = Tables.orders(spark, dir).select(
      concat(lit(s"<${Base}order/"), col("o_orderkey").cast("string"),
        lit(s"> <${Base}prop/order_date> \""), dayStr(col("o_orderdate")),
        lit("\"^^<" + Xsd + "date> .")).as("nt"))
    stmts.unionAll(types).unionAll(dates)
  }

  /** kg_export_nt — the rendered N-Triples lines, served from the SAME
    * memoized checkpoint its import twin parses ([[memoLines]] — one
    * render per (session, dir, format) however the pair is invoked;
    * Bench's sweep resets it so cold numbers stay honest). */
  def kgExportNt(spark: SparkSession, dir: String): DataFrame =
    memoLines(spark, dir, "nt", ntLines(spark, dir))

  private val prefixes: Seq[(String, String)] =
    nsNames.map { case (_, s) => s -> s"$Base$s/" } ++ Seq(
      "prop" -> s"${Base}prop/", "class" -> s"${Base}class/", "xsd" -> Xsd)

  /** Prefixed name for a namespaced id (`customer:42`). */
  private def pname(idc: Column): Column =
    concat(nsName(idc), lit(":"), key(idc))
  private def pnameSql(e: String): String =
    s"${nsNameSql(e)} || ':' || ${keySql(e)}"

  /** kg_export_ttl — the same graph in Turtle's compact form:
    * `@prefix` header rows plus prefixed-name body rows (`customer:42
    * prop:label "…"@en .`, rdf:type as the `a` keyword). Numeric
    * local names are valid Turtle 1.1 PN_LOCAL. The driver's
    * row-sorted hash makes header/body emission order immaterial;
    * a file writer would `ORDER BY` a header-first key. */
  def kgExportTtl(spark: SparkSession, dir: String): DataFrame =
    memoLines(spark, dir, "ttl", ttlLines(spark, dir)) // shared with kg_import_ttl

  private def ttlLines(spark: SparkSession, dir: String): DataFrame = {
    val sess = spark; import sess.implicits._
    val header = prefixes.map { case (p, iriv) => s"@prefix $p: <$iriv> ." }.toDF("ttl")
    val obj =
      when(col("o_id").isNotNull, pname(col("o_id")))
        .when(col("lang").isNotNull,
          concat(lit("\""), esc(col("o_val")), lit("\"@"), col("lang")))
        .otherwise(concat(lit("\""), esc(col("o_val")), lit("\"")))
    val stmts = Triples.statements(spark, dir).select(
      concat(pname(col("s")), lit(" prop:"), col("p"), lit(" "), obj, lit(" .")).as("ttl"))
    val types = Triples.entityIds(spark, dir).select(
      concat(pname(col("id")), lit(" a class:"), nsName(col("id")), lit(" .")).as("ttl"))
    val dates = Tables.orders(spark, dir).select(
      concat(lit("order:"), col("o_orderkey").cast("string"),
        lit(" prop:order_date \""), dayStr(col("o_orderdate")),
        lit("\"^^xsd:date .")).as("ttl"))
    header.unionAll(stmts).unionAll(types).unionAll(dates)
  }

  /** kg_export_jsonld — `create-rdf.py`'s `save_jsonld(...)` as
    * line-delimited FLAT JSON-LD: one node object per statement
    * (`{"@id":…, "<prop IRI>": {"@id"|"@value"[, "@language"]}}`),
    * plus `@type` nodes from the entity universe. Flat form keeps the
    * export embarrassingly parallel — compaction/framing is a client
    * step, grouping by subject would force a shuffle the line format
    * doesn't need. */
  def kgExportJsonld(spark: SparkSession, dir: String): DataFrame = {
    val objNode =
      when(col("o_id").isNotNull,
        concat(lit("{\"@id\":\""), iriPlain(col("o_id")), lit("\"}")))
        .when(col("lang").isNotNull,
          concat(lit("{\"@value\":\""), esc(col("o_val")),
            lit("\",\"@language\":\""), col("lang"), lit("\"}")))
        .otherwise(concat(lit("{\"@value\":\""), esc(col("o_val")), lit("\"}")))
    val stmts = Triples.statements(spark, dir).select(
      concat(lit("{\"@id\":\""), iriPlain(col("s")), lit(s"\",\"${Base}prop/"),
        col("p"), lit("\":"), objNode, lit("}")).as("jsonld"))
    val types = Triples.entityIds(spark, dir).select(
      concat(lit("{\"@id\":\""), iriPlain(col("id")),
        lit(s"\",\"@type\":\"${Base}class/"), nsName(col("id")), lit("\"}")).as("jsonld"))
    stmts.unionAll(types)
  }

  /** Regex-safe rendering of [[Base]]. */
  private val BaseRe = "http://example\\.com/"

  /** Reverse of [[nsName]]: entity-type segment → namespace number. */
  private def nsNum(nameC: Column): Column =
    nsNames.tail.foldLeft(when(nameC === nsNames.head._2, nsNames.head._1)) {
      case (acc, (n, s)) => acc.when(nameC === s, n)
    }.cast("long")
  private def nsNumSql(e: String): String =
    s"CASE ($e) " + nsNames.map { case (n, s) => s"WHEN '$s' THEN $n" }.mkString(" ") +
      " END"

  /** Reverse of [[esc]]. A sequential replace chain cannot unescape
    * directly (`\\n` must become backslash+n, not backslash+newline),
    * so `\\` is parked on a sentinel first (U+0001 — absent from any
    * text this store can hold; a full parser would scan left-to-right
    * instead). Chain: park double-backslash, decode the char escapes,
    * restore the parked backslashes. */
  private val UnescSentinel = "\u0001"
  private def unesc(c: Column): Column = {
    // LOUD sentinel guard: a literal that already contains U+0001 would
    // silently corrupt through the park-and-restore chain (the escape
    // side never emits it — only a non-normalized foreign corpus can).
    // raise_error evaluates ONLY on a violating row, so the guard costs
    // one contains() per literal and fails the import with the
    // offending text instead of shipping corrupted o_val bytes.
    val guarded = when(c.contains(UnescSentinel),
      raise_error(concat(lit("RDF import: literal contains the U+0001 unescape sentinel "
        + "(non-normalized corpus): "), c))).otherwise(c)
    (Seq("\\\\" -> UnescSentinel, "\\n" -> "\n", "\\r" -> "\r", "\\t" -> "\t",
      "\\\"" -> "\"") :+ (UnescSentinel -> "\\"))
      .foldLeft(guarded) { case (acc, (s, r)) => call_function("replace", acc, lit(s), lit(r)) }
  }
  private def unescSql(e: String): String = {
    val steps = Seq(
      ("chr(92)||chr(92)", "chr(1)"), ("chr(92)||'n'", "chr(10)"),
      ("chr(92)||'r'", "chr(13)"), ("chr(92)||'t'", "chr(9)"),
      ("chr(92)||chr(34)", "chr(34)"), ("chr(1)", "chr(92)"))
    steps.foldLeft(e) { case (acc, (s, r)) => s"replace($acc, $s, $r)" }
  }

  /** Parse N-Triples lines (one `nt` string column) back into the
    * statement shape `(s, p, o_id, o_val, lang)`: subject/entity IRIs
    * → namespaced ids, `prop/x` predicates → `x`, rdf:type → `a` with
    * the class segment as o_val, typed literals → their lexical form,
    * quoted literals unescaped, language tags split off. All
    * single-pass regexp_extract + replace chains — scan-speed, no
    * shuffle. */
  def parseNt(lines: DataFrame): DataFrame = {
    val nt = col("nt")
    // Same single-split shape as [[parseTtl]] (round-10 rewrite): ONE
    // split per line — [subject IRI, predicate IRI, object + " ."] —
    // then every regex anchors on a SHORT token (bracketed IRI, quote
    // suffix), never the whole line; literal bodies extract by
    // substring arithmetic off the last raw quote. The old per-field
    // battery re-scanned each full line (long literals included) ~10
    // times. Malformed lines (non-IRI subject/predicate, no closing
    // dot) drop strictly, as in parseTtl.
    val subjRe = s"^<$BaseRe([a-z]+)/([0-9]+)>$$"
    val entRe = s"^<$BaseRe([a-z]+)/([0-9]+)>$$"
    val classRe = s"^<${BaseRe}class/([a-z]+)>$$"
    val body0 = lines
      .select(split(nt, " ", 3).as("t"))
      .select(col("t").getItem(0).as("subj"), col("t").getItem(1).as("predt"),
        col("t").getItem(2).as("tail"))
      .filter(col("subj").rlike(subjRe) &&
        col("predt").rlike("^<[^>]*>$") &&
        col("tail").isNotNull && col("tail").endsWith(" ."))
      .select(col("subj"), col("predt"),
        col("tail").substr(lit(1), length(col("tail")) - 2).as("obj"))
      .filter(col("obj") =!= "")
    val isQuoted = col("obj").startsWith("\"") && length(col("obj")) >= 2
    // the literal machinery is kept to ONE unesc subtree per row:
    // Catalyst collapses these projections into one, so every column
    // reference expands INLINE — three unesc arms (the first cut)
    // tripled the replace-chain tree, blew the generated method past
    // the JVM limit, and the whole projection fell back to interpreted
    // execution (~4× slower end-to-end; the er_link_cascade lesson)
    val body = body0
      .withColumn("sfx", when(isQuoted, substring_index(col("obj"), "\"", -1)))
      .withColumn("litOk",
        col("sfx").rlike("^@[a-z]+$") || col("sfx").rlike("^\\^\\^<[^>]*>$") ||
          col("sfx") === "")
      .withColumn("qbody", when(isQuoted && col("litOk"),
        col("obj").substr(lit(2), length(col("obj")) - length(col("sfx")) - lit(2))))
    val predIri = col("predt").substr(lit(2), length(col("predt")) - 2)
    val langArm = col("sfx").rlike("^@[a-z]+$")
    // each regexp extract lands in its OWN projection layer first and
    // is referenced (not re-evaluated) downstream: nsNum expands to a
    // 6-arm CASE, so an inlined extract would be re-run per arm —
    // CollapseProject keeps the boundary for multi-use non-cheap
    // expressions, which both bounds the codegen tree (the 64 KB
    // cliff this file used to ride) and evaluates each regex once
    body
      .withColumn("sseg", regexp_extract(col("subj"), subjRe, 1))
      .withColumn("eseg", regexp_extract(col("obj"), entRe, 1))
      .withColumn("cseg", regexp_extract(col("obj"), classRe, 1))
      .select(
        (nsNum(col("sseg")) * NS +
          regexp_extract(col("subj"), subjRe, 2).cast("long")).as("s"),
        when(predIri === RdfType, lit("a"))
          .otherwise(call_function("replace", predIri, lit(s"${Base}prop/"), lit("")))
          .as("p"),
        when(col("cseg") === "" && col("eseg") =!= "",
          nsNum(col("eseg")) * NS +
            regexp_extract(col("obj"), entRe, 2).cast("long")).as("o_id"),
        when(col("cseg") =!= "", col("cseg"))
          .when(col("litOk"), unesc(col("qbody")))
          .as("o_val"),
        when(langArm, col("sfx").substr(lit(2), length(col("sfx")) - 1)).as("lang"))
  }

  /** Parse Turtle lines (one `ttl` string column, `@prefix` header
    * rows + prefixed-name body rows) back into the statement shape.
    * The ENTITY prefix map is NOT hardcoded: the header rows are
    * parsed into a (pref, iri) frame and the body resolves subject /
    * entity-object prefixed names through an INNER broadcast join
    * against it — a body row whose prefix the header never declared
    * drops out (the strict-parser contract), and the whole parse
    * stays distributed (the header frame is prefix-count-sized; no
    * driver collect). Entity-type segments come from the RESOLVED
    * IRIs, so entity prefixes may be renamed freely. PREDICATES are
    * the store's canonical dialect (`a` and `prop:` — fixed vocabulary
    * namespaces, like `xsd:`): a line with any other predicate form is
    * strictly dropped, not header-resolved. */
  def parseTtl(lines: DataFrame): DataFrame = {
    val ttl = col("ttl")
    val hdrRe = "^@prefix ([a-z]+): <([^>]*)> \\.$"
    val hdr = lines
      .filter(ttl.startsWith("@prefix "))
      .select(regexp_extract(ttl, hdrRe, 1).as("pref"),
        regexp_extract(ttl, hdrRe, 2).as("iri"))
    val seg = (i: Column) => regexp_extract(i, s"^$BaseRe([a-z]+)/$$", 1)
    // ONE split per body line replaces the round-9 per-field regex
    // battery (~10 anchored regex evals re-scanning every line — the
    // bench's most expensive query): the canonical render guarantees
    // single-space separation and space-free subject/predicate tokens,
    // so split(line, ' ', 3) is exact — [subject pname, predicate,
    // object + " ."]. Every remaining regex below anchors on a SHORT
    // token (pname, predicate, quote suffix), never the whole line.
    // The literal body extracts by substring arithmetic off the text
    // after the LAST raw quote (escaped interior quotes render as
    // backslash+quote, so the last raw quote is always the closing
    // delimiter — exactly the boundary the old greedy regexes took).
    val body0 = lines.filter(!ttl.startsWith("@prefix "))
      .select(split(ttl, " ", 3).as("t"))
      .select(col("t").getItem(0).as("subj"), col("t").getItem(1).as("pred0"),
        col("t").getItem(2).as("tail"))
      // strict on the SUBJECT/PREDICATE/OBJECT shape: a line whose
      // subject isn't a pname, whose predicate is outside the
      // canonical dialect (`a` / `prop:`), or whose object field
      // doesn't close with " ." drops out here — it must not survive
      // as a corrupted statement
      .filter(col("subj").rlike("^[a-z]+:[0-9]+$") &&
        col("pred0").rlike("^(a|prop:[a-z_]+)$") &&
        col("tail").isNotNull && col("tail").endsWith(" ."))
      .select(col("subj"), col("pred0").as("pred"),
        col("tail").substr(lit(1), length(col("tail")) - 2).as("obj"))
      .filter(col("obj") =!= "")
    val isQuoted = col("obj").startsWith("\"") && length(col("obj")) >= 2
    val isPname = col("obj").rlike("^[a-z]+:[0-9]+$")
    val body = body0
      .withColumn("spref", substring_index(col("subj"), ":", 1))
      .withColumn("skey", substring_index(col("subj"), ":", -1))
      // sfx = the text after the closing quote ("" plain, "@xx" lang,
      // "^^xsd:t" typed); null when the object is not a literal. litOk
      // folds the three literal forms into ONE flag so the final
      // projection carries a single unesc subtree (three arms tripled
      // the replace chain and risk the 64 KB codegen fallback — see
      // parseNt)
      .withColumn("sfx", when(isQuoted, substring_index(col("obj"), "\"", -1)))
      .withColumn("litOk",
        col("sfx").rlike("^@[a-z]+$") || col("sfx").rlike("^\\^\\^xsd:[a-z]+$") ||
          col("sfx") === "")
      .withColumn("qbody",
        when(isQuoted && col("litOk"), col("obj").substr(lit(2),
          length(col("obj")) - length(col("sfx")) - lit(2))))
      .withColumn("opref", when(isPname, substring_index(col("obj"), ":", 1)).otherwise(""))
      .withColumn("okey", when(isPname, substring_index(col("obj"), ":", -1)).otherwise(""))
      .drop("subj")
    val sh = hdr.select(col("pref").as("spref"), col("iri").as("s_iri"))
    val oh = hdr.select(col("pref").as("opref"), col("iri").as("o_iri"))
    val langArm = col("sfx").rlike("^@[a-z]+$")
    body
      .join(broadcast(sh), Seq("spref"))
      .join(broadcast(oh), Seq("opref"), "left_outer")
      // strict on BOTH sides: an entity object whose prefix the header
      // never declared drops the row (it must not survive as a
      // corrupted no-object statement)
      .filter(col("opref") === "" || col("o_iri").isNotNull)
      // extract-once layer (see parseNt): nsNum's 6-arm CASE must
      // reference these, never re-evaluate them per arm
      .withColumn("sseg", seg(col("s_iri")))
      .withColumn("oseg", seg(col("o_iri")))
      .select(
        (nsNum(col("sseg")) * NS + col("skey").cast("long")).as("s"),
        when(col("pred") === "a", lit("a"))
          .otherwise(call_function("replace", col("pred"), lit("prop:"), lit("")))
          .as("p"),
        when(col("pred") =!= "a" && col("opref") =!= "",
          nsNum(col("oseg")) * NS + col("okey").cast("long")).as("o_id"),
        when(col("pred") === "a", regexp_extract(col("obj"), "^[a-z]+:([a-z]+)$", 1))
          .when(col("litOk"), unesc(col("qbody")))
          .as("o_val"),
        when(langArm, col("sfx").substr(lit(2), length(col("sfx")) - 1)).as("lang"))
  }

  /** kg_import_ttl — the Turtle inverse: [[kgExportTtl]]'s output
    * parsed back through the header-driven [[parseTtl]]. RdfSpec
    * asserts it lands on EXACTLY the same statements as the N-Triples
    * path (cross-format agreement) and that removing a header prefix
    * drops exactly that prefix's rows.
    *
    * The rendered lines are materialized ONCE (eager localCheckpoint)
    * before parsing: parseTtl consumes its input three times (header
    * scan + two broadcast prefix sides) on top of the body scan, so
    * an unmaterialized round trip re-executed the whole statement
    * render per consumer. The checkpoint is MEMOIZED per (session,
    * input dir, format) with a deterministic reclaim hook —
    * [[resetMemo]] frees its blocks — so repeated imports on a
    * long-lived driver reuse one materialization instead of
    * accumulating storage blocks until GC (round-9 ADVICE). Bench's
    * sweep resets it so cold numbers stay honest.
    *
    * The checkpoint is PINNED ([[Memo.frames]]) so a consumer running
    * the documented freeAll-after-draining convention on a derived
    * import result cannot free the memo's blocks out from under the
    * next kgImport* call in the same session (round-10 ADVICE). */
  private val linesMemo = Memo.frames[(SparkSession, String, String)](this)

  private def memoLines(spark: SparkSession, dir: String, fmt: String,
      render: => DataFrame): DataFrame =
    linesMemo((spark, dir, fmt))(render)

  /** Drop the memoized rendered-lines checkpoints and free their
    * blocks. */
  def resetMemo(): Unit = Memo.reset(this)

  def kgImportTtl(spark: SparkSession, dir: String): DataFrame =
    parseTtl(kgExportTtl(spark, dir)) // the export IS the memoized lines frame

  /** kg_import_nt — the INVERSE serialization: [[kgExportNt]]'s lines
    * parsed back into statements, closing the full modeling round trip
    * (RdfSpec asserts `parse(render(store))` reproduces the statement
    * store EXACTLY, row-multiset equal). In production the input is
    * `spark.read.text(path)` over shipped `.nt` files; here the lines
    * come from the export so the operator is self-contained and the
    * oracle replays render+parse end-to-end. rdf:type rows surface as
    * `p = 'a'` with the class segment in o_val; the typed date arm as
    * `p = 'order_date'` lexical forms.
    *
    * The rendered lines are memoized + checkpointed like the Turtle
    * path — NOT just for reuse: without the materialization Catalyst
    * collapses the render's per-arm concat trees INTO the parse
    * projection, where every parse column re-evaluates the render
    * expression (measured ~20 s vs ~1.5 s for the parse over
    * materialized lines at sf0.1 — the same collapse-inlining family
    * as the kg_describe seed re-execution). A production import reads
    * `spark.read.text` (a scan, nothing to collapse) and needs no
    * checkpoint. */
  def kgImportNt(spark: SparkSession, dir: String): DataFrame =
    parseNt(kgExportNt(spark, dir)) // the export IS the memoized lines frame

  /** PRODUCTION-path imports: lines come from shipped files
    * (`spark.read.text` — a leaf scan with nothing to collapse, so no
    * memo/checkpoint is needed or taken). This is the contract the
    * memoized render-round-trip imports above stand in for when the
    * store must prove `parse(render(x)) = x` self-contained; a real
    * deployment reading `.nt`/`.ttl` dumps calls THESE. RdfSpec
    * round-trips export → [[graft.sources.Ingest.writeText]] → file
    * import and asserts multiset equality with the in-session path. */
  def kgImportNtFile(spark: SparkSession, path: String): DataFrame =
    parseNt(spark.read.text(path).withColumnRenamed("value", "nt"))

  def kgImportTtlFile(spark: SparkSession, path: String): DataFrame =
    parseTtl(spark.read.text(path).withColumnRenamed("value", "ttl"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kg_export_nt"     -> (kgExportNt _),
    "kg_export_ttl"    -> (kgExportTtl _),
    "kg_export_jsonld" -> (kgExportJsonld _),
    "kg_import_nt"     -> (kgImportNt _),
    "kg_import_ttl"    -> (kgImportTtl _))

  private val T = Triples.sqlCte

  /** The N-Triples render as SQL (shared by the export oracle and the
    * import oracle's render-then-parse round trip). */
  private def ntBodySql: String =
    s"""SELECT ${iriSql("s")} || ' <${Base}prop/' || p || '> ' ||
       |  ($ntObjectSql) || ' .' AS nt
       |FROM triples
       |UNION ALL
       |SELECT ${iriSql("id")} || ' <$RdfType> <${Base}class/' ||
       |  ${nsNameSql("id")} || '> .'
       |FROM ${Triples.entityIdsSql} ids
       |UNION ALL
       |SELECT '<${Base}order/' || CAST(o_orderkey AS VARCHAR) ||
       |  '> <${Base}prop/order_date> ' || chr(34) ||
       |  strftime(o_orderdate, '%Y-%m-%d') || chr(34) || '^^<${Xsd}date> .'
       |FROM orders""".stripMargin

  private def importNtSql: String = {
    val D = "$" // literal regex end-anchor (kept out of the interpolator)
    s"""$T,
       |nt AS ($ntBodySql),
       |px AS (SELECT nt,
       |  regexp_extract(nt, '^<$BaseRe([a-z]+)/([0-9]+)> ', 1) AS sns,
       |  regexp_extract(nt, '^<$BaseRe([a-z]+)/([0-9]+)> ', 2) AS skey,
       |  regexp_extract(nt, '^<[^>]*> <([^>]*)> ', 1) AS pred,
       |  regexp_extract(nt, '^<[^>]*> <[^>]*> (.*) \\.$D', 1) AS obj
       |  FROM nt),
       |ox AS (SELECT *,
       |  regexp_extract(obj, '^<${BaseRe}class/([a-z]+)>$D', 1) AS cls,
       |  regexp_extract(obj, '^<$BaseRe([a-z]+)/([0-9]+)>$D', 1) AS ons,
       |  regexp_extract(obj, '^<$BaseRe([a-z]+)/([0-9]+)>$D', 2) AS okey,
       |  regexp_extract(obj, '^"(.*)"@([a-z]+)$D', 1) AS lval,
       |  regexp_extract(obj, '^"(.*)"@([a-z]+)$D', 2) AS ltag,
       |  CASE WHEN regexp_matches(obj, '^"(.*)"\\^\\^<[^>]*>$D')
       |       THEN regexp_extract(obj, '^"(.*)"\\^\\^<[^>]*>$D', 1) END AS tval,
       |  CASE WHEN regexp_matches(obj, '^"(.*)"$D')
       |       THEN regexp_extract(obj, '^"(.*)"$D', 1) END AS pval
       |  FROM px)
       |SELECT
       |  CAST(${nsNumSql("sns")} * $NS + CAST(skey AS BIGINT) AS BIGINT) AS s,
       |  CASE WHEN pred = '$RdfType' THEN 'a'
       |       ELSE replace(pred, '${Base}prop/', '') END AS p,
       |  CASE WHEN cls = '' AND ons <> ''
       |       THEN CAST(${nsNumSql("ons")} * $NS + CAST(okey AS BIGINT) AS BIGINT) END AS o_id,
       |  CASE WHEN cls <> '' THEN cls
       |       WHEN ltag <> '' THEN ${unescSql("lval")}
       |       WHEN tval IS NOT NULL THEN ${unescSql("tval")}
       |       WHEN pval IS NOT NULL THEN ${unescSql("pval")} END AS o_val,
       |  CASE WHEN ltag <> '' THEN ltag END AS lang
       |FROM ox""".stripMargin
  }

  /** The Turtle render as SQL (header + three body arms — shared by
    * the export oracle and the import oracle's round trip). */
  private def ttlBodySql: String = {
    val header = prefixes
      .map { case (p, iriv) => s"SELECT '@prefix $p: <$iriv> .' AS ttl" }
      .mkString("\nUNION ALL ")
    s"""$header
       |UNION ALL
         |SELECT ${pnameSql("s")} || ' prop:' || p || ' ' ||
         |  (CASE WHEN o_id IS NOT NULL THEN ${pnameSql("o_id")}
         |        WHEN lang IS NOT NULL THEN chr(34) || ${escSql("o_val")} || chr(34) || '@' || lang
         |        ELSE chr(34) || ${escSql("o_val")} || chr(34) END) || ' .'
         |FROM triples
         |UNION ALL
         |SELECT ${pnameSql("id")} || ' a class:' || ${nsNameSql("id")} || ' .'
         |FROM ${Triples.entityIdsSql} ids
         |UNION ALL
         |SELECT 'order:' || CAST(o_orderkey AS VARCHAR) || ' prop:order_date ' ||
         |  chr(34) || strftime(o_orderdate, '%Y-%m-%d') || chr(34) || '^^xsd:date .'
         |FROM orders""".stripMargin
  }

  private def importTtlSql: String = {
    val D = "$"
    val segSql = (e: String) => s"regexp_extract($e, '^$BaseRe([a-z]+)/$D', 1)"
    s"""$T,
       |tl AS ($ttlBodySql),
       |hdr AS (SELECT
       |    regexp_extract(ttl, '^@prefix ([a-z]+): <([^>]*)> \\.$D', 1) AS pref,
       |    regexp_extract(ttl, '^@prefix ([a-z]+): <([^>]*)> \\.$D', 2) AS iri
       |  FROM tl WHERE ttl LIKE '@prefix %'),
       |body AS (SELECT ttl,
       |    regexp_extract(ttl, '^([a-z]+):([0-9]+) ', 1) AS spref,
       |    regexp_extract(ttl, '^([a-z]+):([0-9]+) ', 2) AS skey,
       |    regexp_extract(ttl, '^[a-z]+:[0-9]+ (a|prop:[a-z_]+) ', 1) AS pred,
       |    regexp_extract(ttl, '^[a-z]+:[0-9]+ (?:a|prop:[a-z_]+) (.*) \\.$D', 1) AS obj
       |  FROM tl WHERE ttl NOT LIKE '@prefix %'
       |    AND regexp_extract(ttl, '^[a-z]+:[0-9]+ (a|prop:[a-z_]+) ', 1) <> ''
       |    AND regexp_extract(ttl, '^[a-z]+:[0-9]+ (?:a|prop:[a-z_]+) (.*) \\.$D', 1) <> ''),
       |ox AS (SELECT body.*,
       |    regexp_extract(obj, '^([a-z]+):([0-9]+)$D', 1) AS opref,
       |    regexp_extract(obj, '^([a-z]+):([0-9]+)$D', 2) AS okey,
       |    regexp_extract(obj, '^"(.*)"@([a-z]+)$D', 1) AS lval,
       |    regexp_extract(obj, '^"(.*)"@([a-z]+)$D', 2) AS ltag,
       |    CASE WHEN regexp_matches(obj, '^"(.*)"\\^\\^xsd:([a-z]+)$D')
       |         THEN regexp_extract(obj, '^"(.*)"\\^\\^xsd:([a-z]+)$D', 1) END AS tval,
       |    CASE WHEN regexp_matches(obj, '^"(.*)"$D')
       |         THEN regexp_extract(obj, '^"(.*)"$D', 1) END AS pval
       |  FROM body)
       |SELECT
       |  CAST(${nsNumSql(segSql("sh.iri"))} * $NS + CAST(skey AS BIGINT) AS BIGINT) AS s,
       |  CASE WHEN pred = 'a' THEN 'a' ELSE replace(pred, 'prop:', '') END AS p,
       |  CASE WHEN pred <> 'a' AND opref <> ''
       |       THEN CAST(${nsNumSql(segSql("oh.iri"))} * $NS + CAST(okey AS BIGINT) AS BIGINT)
       |       END AS o_id,
       |  CASE WHEN pred = 'a' THEN regexp_extract(obj, '^[a-z]+:([a-z]+)$D', 1)
       |       WHEN ltag <> '' THEN ${unescSql("lval")}
       |       WHEN tval IS NOT NULL THEN ${unescSql("tval")}
       |       WHEN pval IS NOT NULL THEN ${unescSql("pval")} END AS o_val,
       |  CASE WHEN ltag <> '' THEN ltag END AS lang
       |FROM ox
       |JOIN hdr sh ON ox.spref = sh.pref
       |LEFT JOIN hdr oh ON ox.opref = oh.pref
       |WHERE ox.opref = '' OR oh.pref IS NOT NULL""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "kg_export_nt" -> s"$T\n$ntBodySql",
    "kg_import_nt" -> importNtSql,
    "kg_export_ttl" -> s"$T\n$ttlBodySql",
    "kg_import_ttl" -> importTtlSql,
    "kg_export_jsonld" ->
      s"""$T
         |SELECT '{' || chr(34) || '@id' || chr(34) || ':' || chr(34) ||
         |    ${iriPlainSql("s")} || chr(34) || ',' || chr(34) ||
         |    '${Base}prop/' || p || chr(34) || ':' ||
         |  (CASE WHEN o_id IS NOT NULL THEN
         |      '{' || chr(34) || '@id' || chr(34) || ':' || chr(34) || ${iriPlainSql("o_id")} || chr(34) || '}'
         |    WHEN lang IS NOT NULL THEN
         |      '{' || chr(34) || '@value' || chr(34) || ':' || chr(34) || ${escSql("o_val")} || chr(34) ||
         |      ',' || chr(34) || '@language' || chr(34) || ':' || chr(34) || lang || chr(34) || '}'
         |    ELSE '{' || chr(34) || '@value' || chr(34) || ':' || chr(34) || ${escSql("o_val")} || chr(34) || '}'
         |   END) || '}' AS jsonld
         |FROM triples
         |UNION ALL
         |SELECT '{' || chr(34) || '@id' || chr(34) || ':' || chr(34) || ${iriPlainSql("id")} || chr(34) ||
         |  ',' || chr(34) || '@type' || chr(34) || ':' || chr(34) ||
         |  '${Base}class/' || ${nsNameSql("id")} || chr(34) || '}'
         |FROM ${Triples.entityIdsSql} ids""".stripMargin)
}
