package graft.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BoundReference, Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructType}

import graft.core.meta.{GraftIO, MetaJson}
import graft.core.types.SparkTypes

/** Catalog-stored SQL UDFs (reference format/udf-spec.md — specified but
  * with no engine implementation in the reference yet).
  *
  * Metadata follows the spec: one immutable JSON metadata file per
  * change under `<warehouse>/<ns>/_udfs/<name>/v<N>.metadata.json`
  * (function-uuid, definitions keyed by canonical definition-id,
  * versioned SQL representations, definition-log); the newest version
  * number is the current pointer, so rollback history rides along.
  *
  * Execution is Spark-native twice over:
  *  - `ResolveGraftUdfs` macro-expands a stored UDF call into its parsed
  *    body with arguments substituted for parameters — the plan that
  *    reaches Catalyst is ordinary expressions (codegen, pushdown,
  *    constant folding all apply);
  *  - `GraftCatalog.loadFunction` additionally serves stored UDFs as
  *    DSv2 ScalarFunctions (body analyzed driver-side at bind time into
  *    a serializable expression) so resolution succeeds even when
  *    Spark's own function resolution runs before the extension rule.
  */
object GraftUdfStore {

  final case class UdfParam(name: String, tpe: String)
  final case class UdfVersion(versionId: Int, sql: String, dialect: String,
      deterministic: Boolean, onNullInput: String, timestampMs: Long)
  final case class UdfDefinition(definitionId: String, parameters: Seq[UdfParam],
      returnType: String, functionType: String, versions: Seq[UdfVersion],
      currentVersionId: Int) {
    def currentVersion: UdfVersion =
      versions.find(_.versionId == currentVersionId).getOrElse(versions.last)
  }
  final case class StoredUdf(uuid: String, definitions: Seq[UdfDefinition],
      definitionLog: Seq[(Long, Map[String, Int])],
      properties: Map[String, String], doc: Option[String])

  /** canonical comma-separated parameter-type tuple (udf-spec
    * "Definition ID"; our type names already match the spec's JSON
    * primitive encodings). */
  def definitionId(paramTypes: Seq[String]): String = paramTypes.mkString(",")

  private def dir(warehouse: String, ns: Seq[String], name: String): String =
    (warehouse +: ns :+ "_udfs" :+ name).mkString("/")

  private def versionsIn(d: String): Seq[(Int, String)] = {
    val p = GraftIO.toPath(d)
    if (!java.nio.file.Files.isDirectory(p)) Nil
    else {
      val stream = java.nio.file.Files.list(p)
      try stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("v") && n.endsWith(".metadata.json") =>
          (n.stripPrefix("v").stripSuffix(".metadata.json").toInt, s"$d/$n")
        }.toSeq.sortBy(_._1)
      finally stream.close()
    }
  }

  // parsed-UDF cache: metadata files are immutable and keyed by their
  // version path, so a parse is reusable for the session's lifetime;
  // function resolution consults load() several times per query
  private val parseCache = new graft.core.meta.BoundedCache[String, StoredUdf](256)

  def load(warehouse: String, ns: Seq[String], name: String): Option[StoredUdf] =
    loadWithVersion(warehouse, ns, name).map(_._2)

  private def loadWithVersion(warehouse: String, ns: Seq[String],
      name: String): Option[(Int, StoredUdf)] =
    versionsIn(dir(warehouse, ns, name)).lastOption.map { case (v, path) =>
      (v, parseCache.get(path)(readJson(GraftIO.readString(path))))
    }

  def list(warehouse: String, ns: Seq[String]): Seq[String] = {
    val d = GraftIO.toPath((warehouse +: ns :+ "_udfs").mkString("/"))
    if (!java.nio.file.Files.isDirectory(d)) Nil
    else {
      val stream = java.nio.file.Files.list(d)
      try stream.iterator().asScala
        .filter(java.nio.file.Files.isDirectory(_))
        .map(_.getFileName.toString).toSeq
      finally stream.close()
    }
  }

  /** Atomically claim version file v{version}; false when another
    * writer got there first (the caller reloads and retries — the UDF
    * analogue of the table commit CAS, built on the same hard-link
    * create-if-absent primitive). */
  private def saveAt(warehouse: String, ns: Seq[String], name: String,
      udf: StoredUdf, version: Int): Boolean =
    GraftIO.atomicCreate(
      s"${dir(warehouse, ns, name)}/v$version.metadata.json", writeJson(udf))

  def drop(warehouse: String, ns: Seq[String], name: String): Boolean = {
    val d = GraftIO.toPath(dir(warehouse, ns, name))
    if (!java.nio.file.Files.isDirectory(d)) false
    else {
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
      true
    }
  }

  /** Add (or version) one definition: same signature → new version on
    * that definition; new signature → new definition (overload). */
  def createOrReplace(warehouse: String, ns: Seq[String], name: String,
      params: Seq[UdfParam], returnType: String, functionType: String,
      sql: String, deterministic: Boolean, onNullInput: String,
      replace: Boolean): StoredUdf = {
    var attempts = 0
    while (attempts < 10) {
      val now = System.currentTimeMillis()
      val defId = definitionId(params.map(_.tpe))
      val existing = loadWithVersion(warehouse, ns, name)
      val base = existing.map(_._2).getOrElse(
        StoredUdf(java.util.UUID.randomUUID.toString, Nil, Nil, Map.empty, None))
      if (existing.isDefined && base.definitions.exists(_.definitionId == defId) && !replace)
        throw new IllegalArgumentException(
          s"function $name($defId) already exists (use replace := true to add a version)")
      val defs = base.definitions.find(_.definitionId == defId) match {
        case Some(d) =>
          require(d.functionType == functionType,
            s"cannot change function type of $name($defId)")
          val vid = d.versions.map(_.versionId).max + 1
          val nv = UdfVersion(vid, sql, "spark", deterministic, onNullInput, now)
          base.definitions.map(x =>
            if (x.definitionId == defId)
              x.copy(parameters = params, returnType = returnType,
                versions = x.versions :+ nv, currentVersionId = vid)
            else x)
        case None =>
          base.definitions :+ UdfDefinition(defId, params, returnType, functionType,
            Seq(UdfVersion(1, sql, "spark", deterministic, onNullInput, now)), 1)
      }
      val logEntry = (now, defs.map(d => d.definitionId -> d.currentVersionId).toMap)
      val updated = base.copy(definitions = defs,
        definitionLog = base.definitionLog :+ logEntry)
      if (saveAt(warehouse, ns, name, updated,
          existing.map(_._1 + 1).getOrElse(1))) return updated
      attempts += 1 // another writer claimed the version: reload + retry
    }
    throw new IllegalStateException(s"could not commit UDF metadata for $name")
  }

  /** Point a definition's current version back to an earlier one
    * (udf-spec "Support function evolution through versioning and
    * rollback"); writes a new immutable metadata file. */
  def rollback(warehouse: String, ns: Seq[String], name: String,
      defId: String, versionId: Int): StoredUdf = {
    var attempts = 0
    while (attempts < 10) {
      val (metaVersion, udf) = loadWithVersion(warehouse, ns, name).getOrElse(
        throw new IllegalArgumentException(s"no such function: $name"))
      val d = udf.definitions.find(_.definitionId == defId).getOrElse(
        throw new IllegalArgumentException(s"no definition $defId on $name"))
      require(d.versions.exists(_.versionId == versionId),
        s"no version $versionId on $name($defId)")
      val defs = udf.definitions.map(x =>
        if (x.definitionId == defId) x.copy(currentVersionId = versionId) else x)
      val updated = udf.copy(definitions = defs, definitionLog =
        udf.definitionLog :+ ((System.currentTimeMillis(),
          defs.map(x => x.definitionId -> x.currentVersionId).toMap)))
      if (saveAt(warehouse, ns, name, updated, metaVersion + 1)) return updated
      attempts += 1
    }
    throw new IllegalStateException(s"could not commit UDF metadata for $name")
  }

  // ------------------------------------------------------------- JSON
  // field names follow format/udf-spec.md exactly
  private def writeJson(u: StoredUdf): String = {
    val o = MetaJson.mapper.createObjectNode()
    o.put("function-uuid", u.uuid).put("format-version", 1)
    val defs = o.putArray("definitions")
    u.definitions.foreach { d =>
      val dn = defs.addObject()
      dn.put("definition-id", d.definitionId)
      val ps = dn.putArray("parameters")
      d.parameters.foreach(p => ps.addObject().put("name", p.name).put("type", p.tpe))
      dn.put("return-type", d.returnType)
      dn.put("function-type", d.functionType)
      dn.put("current-version-id", d.currentVersionId)
      val vs = dn.putArray("versions")
      d.versions.foreach { v =>
        val vn = vs.addObject()
        vn.put("version-id", v.versionId)
        vn.put("deterministic", v.deterministic)
        vn.put("on-null-input", v.onNullInput)
        vn.put("timestamp-ms", v.timestampMs)
        val reps = vn.putArray("representations")
        reps.addObject().put("type", "sql").put("dialect", v.dialect).put("sql", v.sql)
      }
    }
    val log = o.putArray("definition-log")
    u.definitionLog.foreach { case (ts, dv) =>
      val ln = log.addObject()
      ln.put("timestamp-ms", ts)
      val arr = ln.putArray("definition-versions")
      dv.foreach { case (id, v) =>
        arr.addObject().put("definition-id", id).put("version-id", v)
      }
    }
    if (u.properties.nonEmpty) {
      val p = o.putObject("properties")
      u.properties.foreach { case (k, v) => p.put(k, v) }
    }
    u.doc.foreach(o.put("doc", _))
    MetaJson.mapper.writeValueAsString(o)
  }

  private def readJson(s: String): StoredUdf = {
    val n = MetaJson.mapper.readTree(s)
    val defs = Seq.newBuilder[UdfDefinition]
    n.get("definitions").elements().forEachRemaining { dn =>
      val params = Seq.newBuilder[UdfParam]
      dn.get("parameters").elements().forEachRemaining(p =>
        params += UdfParam(p.get("name").asText(), p.get("type").asText()))
      val versions = Seq.newBuilder[UdfVersion]
      dn.get("versions").elements().forEachRemaining { vn =>
        // take the spark-dialect SQL representation; ignore others
        var sql = ""; var dialect = "spark"
        vn.get("representations").elements().forEachRemaining { r =>
          if (r.get("type").asText() == "sql" &&
              (sql.isEmpty || r.get("dialect").asText() == "spark")) {
            sql = r.get("sql").asText(); dialect = r.get("dialect").asText()
          }
        }
        versions += UdfVersion(vn.get("version-id").asInt(), sql, dialect,
          Option(vn.get("deterministic")).exists(_.asBoolean()),
          Option(vn.get("on-null-input")).map(_.asText()).getOrElse("call"),
          Option(vn.get("timestamp-ms")).map(_.asLong()).getOrElse(0L))
      }
      defs += UdfDefinition(dn.get("definition-id").asText(), params.result(),
        dn.get("return-type").asText(), dn.get("function-type").asText(),
        versions.result(), dn.get("current-version-id").asInt())
    }
    val log = Seq.newBuilder[(Long, Map[String, Int])]
    if (n.has("definition-log"))
      n.get("definition-log").elements().forEachRemaining { ln =>
        val dv = Map.newBuilder[String, Int]
        ln.get("definition-versions").elements().forEachRemaining(e =>
          dv += e.get("definition-id").asText() -> e.get("version-id").asInt())
        log += ((ln.get("timestamp-ms").asLong(), dv.result()))
      }
    val props = scala.collection.mutable.Map.empty[String, String]
    if (n.has("properties"))
      n.get("properties").properties().asScala
        .foreach(e => props += e.getKey -> e.getValue.asText())
    StoredUdf(n.get("function-uuid").asText(), defs.result(), log.result(),
      props.toMap, Option(n.get("doc")).map(_.asText()))
  }

  // ------------------------------------------------- body analysis
  /** Parse + analyze a UDF body against its parameter attributes on the
    * DRIVER, returning a self-contained (serializable) expression over
    * BoundReferences — executors just eval it. */
  def analyzeBody(spark: SparkSession, sql: String,
      paramNames: Seq[String], paramTypes: Seq[DataType],
      returnType: DataType): Expression = {
    val attrs = paramNames.zip(paramTypes).map { case (pn, t) =>
      AttributeReference(pn, t)()
    }
    val body = spark.sessionState.sqlParser.parseExpression(sql)
    val plan = Project(Seq(Alias(body, "__udf_result")()), LocalRelation(attrs))
    val analyzed = spark.sessionState.analyzer.execute(plan)
    spark.sessionState.analyzer.checkAnalysis(analyzed)
    val resolved = analyzed.asInstanceOf[Project].projectList.head match {
      case a: Alias => a.child
      case other    => other
    }
    val cast = if (resolved.dataType == returnType) resolved
      // timeZoneId must be supplied here: this expression never passes
      // through the analyzer's ResolveTimeZone again, and a timezone-
      // dependent cast with None crashes at eval time
      else Cast(resolved, returnType,
        Some(spark.sessionState.conf.sessionLocalTimeZone))
    cast.transform {
      case a: AttributeReference =>
        val i = attrs.indexWhere(_.exprId == a.exprId)
        if (i < 0) throw new IllegalArgumentException(
          s"UDF body references unknown column ${a.name}")
        BoundReference(i, a.dataType, nullable = true)
    }
  }

  /** Deterministic overload choice shared by bind and macro expansion:
    * exact signature wins; otherwise the up-castable candidate with the
    * LEAST total widening. Two candidates at the same minimal cost are
    * ambiguous and rejected — never resolved by definition-storage
    * order, so (long) beats (double) for an int argument regardless of
    * which overload was created first. */
  private[spark] def chooseOverload(arity: Seq[UdfDefinition],
      argTypes: Seq[DataType], sparkTypes: UdfDefinition => Seq[DataType],
      fname: String): Option[UdfDefinition] = {
    val exact = arity.find(d => sparkTypes(d) == argTypes)
    if (exact.isDefined) return exact
    def rank(t: DataType): Int = t match {
      case ByteType       => 1
      case ShortType      => 2
      case IntegerType    => 3
      case LongType       => 4
      case FloatType      => 5
      case _: DecimalType => 5
      case DoubleType     => 6
      case _              => 0
    }
    val costed = arity.flatMap { d =>
      val ps = sparkTypes(d)
      if (ps.zip(argTypes).forall { case (p, a) => Cast.canUpCast(a, p) })
        Some(d -> ps.zip(argTypes).map { case (p, a) =>
          if (p == a) 0
          else { val w = rank(p) - rank(a); if (w > 0) w else 10 }
        }.sum)
      else None
    }
    if (costed.isEmpty) None
    else {
      val min = costed.map(_._2).min
      costed.filter(_._2 == min) match {
        case Seq((d, _)) => Some(d)
        case many => throw new UnsupportedOperationException(
          s"$fname: ambiguous overloads for " +
            s"(${argTypes.map(_.sql).mkString(", ")}): " +
            many.map(_._1.parameters.map(_.tpe).mkString("(", ",", ")"))
              .mkString(" vs "))
      }
    }
  }

  /** DSv2 function-catalog adapter for a stored scalar UDF: overload
    * selection per udf-spec (exact match first, then the least-widening
    * upcast candidate), body analyzed at bind time. */
  final class SqlUdfUnbound(warehouse: String, ns: Seq[String],
      fname: String, udf: StoredUdf) extends UnboundFunction {
    override def name(): String = fname
    override def description(): String =
      udf.doc.getOrElse(s"$fname - catalog-stored SQL UDF")
    override def bind(inputType: StructType): BoundFunction = {
      val scalarDefs = udf.definitions.filter(_.functionType == "udf")
      val arity = scalarDefs.filter(_.parameters.size == inputType.size)
      if (arity.isEmpty) throw new UnsupportedOperationException(
        s"$fname has no definition with ${inputType.size} parameters")
      def sparkTypes(d: UdfDefinition): Seq[DataType] =
        d.parameters.map(p => SparkTypes.toSpark(SparkTypes.typeFromName(p.tpe)))
      val chosen = GraftUdfStore.chooseOverload(arity,
        inputType.map(_.dataType).toSeq, sparkTypes, fname)
        .getOrElse(throw new UnsupportedOperationException(
          s"$fname: no definition matches (${inputType.map(_.dataType.sql).mkString(", ")})"))
      val pTypes = sparkTypes(chosen)
      val ret = SparkTypes.toSpark(SparkTypes.typeFromName(chosen.returnType))
      val body = analyzeBody(SparkSession.active, chosen.currentVersion.sql,
        chosen.parameters.map(_.name), pTypes, ret)
      new SqlUdfBound(fname, pTypes.toArray, ret, body,
        chosen.currentVersion.deterministic,
        chosen.currentVersion.onNullInput == "return-null")
    }
  }

  final class SqlUdfBound(fname: String, paramTypes: Array[DataType],
      ret: DataType, body: Expression, det: Boolean,
      returnNullOnNull: Boolean) extends ScalarFunction[Any] {
    override def name(): String = fname
    override def inputTypes(): Array[DataType] = paramTypes
    override def resultType(): DataType = ret
    override def isDeterministic: Boolean = det
    override def canonicalName(): String = s"graft.udf.$fname"
    override def produceResult(input: InternalRow): Any = {
      if (returnNullOnNull) {
        var i = 0
        while (i < paramTypes.length) {
          if (input.isNullAt(i)) return null
          i += 1
        }
      }
      body.eval(input)
    }
  }
}

/** Analyzer rule: macro-expand calls to catalog-stored SQL UDFs into
  * their (parsed) bodies with arguments substituted for parameters —
  * the expanded expression participates in codegen, pushdown and
  * constant folding like any built-in. Runs in the resolution batch;
  * when Spark's own V2 function resolution gets there first, the
  * loadFunction path above serves the same semantics. */
object GraftUdfMacro {
  import GraftUdfStore._

  def lookup(spark: SparkSession, parts: Seq[String])
      : Option[(String, Seq[String], String, StoredUdf)] = {
    val catalogManager = spark.sessionState.catalogManager
    val (catalogName, ns, fn) = parts match {
      case Seq(cat, rest @ _*) if rest.nonEmpty && catalogManager.isCatalogRegistered(cat) =>
        (cat, rest.init.toSeq, rest.last)
      case Seq(rest @ _*) if rest.nonEmpty =>
        (catalogManager.currentCatalog.name,
          if (rest.size > 1) rest.init.toSeq else catalogManager.currentNamespace.toSeq,
          rest.last)
      case _ => return None
    }
    if (!catalogManager.isCatalogRegistered(catalogName)) return None
    catalogManager.catalog(catalogName) match {
      case g: GraftCatalog =>
        try GraftUdfStore.load(g.warehouse, ns, fn).map((catalogName, ns, fn, _))
        catch { case _: Throwable => None }
      case _ => None
    }
  }

  // recursion guard: a UDTF body may call another UDTF (expanded through
  // the same parser), but a self-referential definition must not loop
  private val depth = new ThreadLocal[Integer] { override def initialValue() = 0 }

  /** Parse-time UDTF macro expansion: Spark 4 has no DSv2 table-function
    * catalog ability (ResolveFunctions throws for v2 catalogs before any
    * extension rule runs), so stored table functions are spliced into
    * the plan as soon as it is parsed. */
  def expandTableFunctions(spark: SparkSession, plan: LogicalPlan): LogicalPlan = {
    if (depth.get() >= 8) return plan
    // tree-pattern gate: plans without a TVF node skip the walk entirely
    // (this runs on every parsed statement)
    if (!plan.containsPattern(
        org.apache.spark.sql.catalyst.trees.TreePattern.UNRESOLVED_TABLE_VALUED_FUNCTION))
      return plan
    plan.transformUp {
      case utvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction =>
        expandTable(spark, utvf).getOrElse(utvf)
    }
  }

  def expandTable(spark: SparkSession,
      utvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction)
      : Option[LogicalPlan] = {
    if (!utvf.functionArgs.forall(_.resolved)) return None
    lookup(spark, utvf.name).flatMap { case (_, _, fn, udf) =>
      val defs = udf.definitions.filter(d =>
        d.functionType == "udtf" && d.parameters.size == utvf.functionArgs.size)
      defs.headOption.map { d =>
        val pTypes = d.parameters.map(p =>
          SparkTypes.toSpark(SparkTypes.typeFromName(p.tpe)))
        val args = utvf.functionArgs.zip(pTypes).map { case (a, t) =>
          if (a.dataType == t) a else Cast(a, t)
        }
        val byName = d.parameters.map(_.name.toLowerCase).zip(args).toMap
        depth.set(depth.get() + 1)
        val body =
          try spark.sessionState.sqlParser.parsePlan(d.currentVersion.sql)
          finally depth.set(depth.get() - 1)
        val substituted = body.transformAllExpressions {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if ua.nameParts.size == 1 && byName.contains(ua.name.toLowerCase) =>
            byName(ua.name.toLowerCase)
        }
        org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(fn, substituted)
      }
    }
  }
}

class ResolveGraftUdfs(spark: SparkSession) extends Rule[LogicalPlan] {
  import GraftUdfStore._

  private def lookup(parts: Seq[String]): Option[(String, Seq[String], String, StoredUdf)] =
    GraftUdfMacro.lookup(spark, parts)

  private def expand(u: UnresolvedFunction): Option[Expression] = {
    if (u.isDistinct || u.filter.isDefined || u.orderingWithinGroup.nonEmpty) return None
    if (!u.arguments.forall(_.resolved)) return None
    // macro expansion splices each argument into EVERY occurrence of its
    // parameter; for a non-deterministic argument (rand()) that would
    // sample per occurrence. Decline — the FunctionCatalog path then
    // serves the call with evaluate-args-once semantics.
    if (u.arguments.exists(!_.deterministic)) return None
    lookup(u.nameParts).flatMap { case (_, _, _, udf) =>
      val scalarDefs = udf.definitions.filter(_.functionType == "udf")
      val arity = scalarDefs.filter(_.parameters.size == u.arguments.size)
      def sparkTypes(d: UdfDefinition): Seq[DataType] =
        d.parameters.map(p => SparkTypes.toSpark(SparkTypes.typeFromName(p.tpe)))
      val chosen = GraftUdfStore.chooseOverload(arity,
        u.arguments.map(_.dataType), sparkTypes, u.nameParts.mkString("."))
      chosen.flatMap { d =>
        val pTypes = sparkTypes(d)
        val args = u.arguments.zip(pTypes).map { case (a, t) =>
          if (a.dataType == t) a else Cast(a, t)
        }
        val byName = d.parameters.map(_.name.toLowerCase).zip(args).toMap
        val body = spark.sessionState.sqlParser.parseExpression(d.currentVersion.sql)
        val substituted = body.transformUp {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if ua.nameParts.size == 1 && byName.contains(ua.name.toLowerCase) =>
            byName(ua.name.toLowerCase)
        }
        // a leftover attribute would capture a COLUMN of the calling
        // query — a scope leak the FunctionCatalog path correctly
        // rejects; decline so both paths agree
        val leaks = substituted.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute])
        if (leaks) None
        else {
          val ret = SparkTypes.toSpark(SparkTypes.typeFromName(d.returnType))
          // declared return type is the contract; same-type Cast folds away
          val cast: Expression = Cast(substituted, ret)
          // on-null-input=return-null (udf-spec Null Input Handling):
          // short-circuit NULL arguments without invoking the body
          if (d.currentVersion.onNullInput == "return-null" && args.nonEmpty) {
            import org.apache.spark.sql.catalyst.expressions.{If, IsNull, Literal, Or}
            val anyNull = args.map(IsNull(_): Expression).reduce(Or(_, _))
            Some(If(anyNull, Literal(null, ret), cast))
          } else Some(cast)
        }
      }
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // tree-pattern gate: analyzer fixed point re-runs this rule per
    // iteration; fully-resolved plans skip the walk
    import org.apache.spark.sql.catalyst.trees.TreePattern
    if (!plan.containsAnyPattern(TreePattern.UNRESOLVED_FUNCTION,
        TreePattern.UNRESOLVED_TABLE_VALUED_FUNCTION))
      return plan
    plan.resolveOperatorsUp {
      case utvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction =>
        GraftUdfMacro.expandTable(spark, utvf).getOrElse(utvf)
      case p =>
        p.transformExpressionsUp {
          case u: UnresolvedFunction => expand(u).getOrElse(u)
        }
    }
  }
}
