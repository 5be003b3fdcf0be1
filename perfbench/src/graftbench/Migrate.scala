package graftbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Random

import org.apache.spark.sql.functions._

import graft.core.{Audit, AuditSink, Tables}
import graft.load.TableLoader
import graft.pipeline.{ConfigJson, Controller, E2ePipeline, GraftApp}
import graft.schema.DdlRunner
import graft.sources.{ScriptScan, ValidationParams}
import graft.translate.TranslationEngine
import graft.validate.{ColumnValidator, RowValidator, SchemaValidator}

/** The reference's headline task: a ddl config drop (translate → create),
  * then a data drop (load the 8 staged tables → schema, column and row
  * validation of each → report), through `GraftApp`. Each iteration
  * migrates into freshly created target databases.
  *
  * The traced run calls the layers directly in the Controller's order
  * (config → translate → schema → load → validate → audit) so each gets
  * its own span; the untraced run measures the public entry point. */
final class Migrate(ctx: Ctx) extends Workload {
  import ctx.spark

  def warmUp: Boolean = false

  private val Src = "gb_src"
  private val Tgt = "gb_tgt"
  private val DdlTgt = "gb_ddl_tgt"
  private val Logs = "gb_logs"
  private var root = ""
  private var stagedBytes = 0L
  private var attempts = Seq.empty[Int]

  private def staging = s"$root/staging"
  private def sheet = s"$root/validation_params.csv"
  private def scripts = s"$root/ddl_scripts"

  def setup(): Unit = {
    root = s"${ctx.work}/migrate"
    spark.sql(s"DROP DATABASE IF EXISTS $Src CASCADE")
    spark.sql(s"CREATE DATABASE $Src LOCATION '$root/warehouse/$Src.db'")
    // the tables are staged concurrently, each with its own seeded order
    implicit val ec: ExecutionContext = ExecutionContext.global
    val tables = E2ePipeline.TableKeys.map(_._1)
    Await.result(Future.traverse(tables.zipWithIndex) { case (t, i) =>
      Future(Stage.seeded(spark, Tables(spark, ctx.data, t), s"$staging/$t",
        new Random(ctx.seed * 31 + i)))
    }, Duration.Inf)
    // the hive source tables are external tables over the staged files
    tables.foreach(t => spark.catalog.createTable(s"$Src.$t", s"$staging/$t", "parquet"))
    stagedBytes = Main.bytesUnder(staging)
    Files.createDirectories(Paths.get(scripts))
    Files.writeString(Paths.get(s"$scripts/audit_run.sql"),
      """CREATE SET TABLE gb_ddl.audit_run ,FALLBACK ,
        |     CHECKSUM = DEFAULT
        |     (
        |      RUN_ID INTEGER NOT NULL,
        |      PHASE VARCHAR(32) CHARACTER SET LATIN NOT CASESPECIFIC,
        |      STARTED TIMESTAMP(6))
        |PRIMARY INDEX ( RUN_ID );""".stripMargin)
    Files.writeString(Paths.get(s"$scripts/audit_err.sql"),
      """CREATE SET TABLE gb_ddl.audit_err ,FALLBACK ,
        |     (
        |      RUN_ID INTEGER NOT NULL,
        |      MSG VARCHAR(256) CHARACTER SET LATIN)
        |PRIMARY INDEX ( RUN_ID );""".stripMargin)
    // the canonical 25-position validation sheet: per table a schema row,
    // a count+sum column row and a full-row hash row
    val head =
      "Translation / Migration Type,Validation Type,Source and Target,,,,Common Flag to all Validations,Common Flag to Row and Column Validation,,Schema Validation Flags,,Column Validation Flags,,,,,,,,,Row Validation Flags,,,,\n" +
      ",,source-table,target-table,source-query-file,target-query-file,filter-status,primary-keys,filters,exclusion-columns,allow-list,count,sum,min,max,avg,grouped-columns,wildcard-include-string-len,cast-to-bigint,threshold,hash,concat,comparison-fields,use-random-row,random-row-batch-size\n"
    val rows = E2ePipeline.TableKeys.flatMap { case (t, sumCol, pk) => Seq(
      s"data,schema,$Src.$t,$Tgt.$t,,,,,,,,,,,,,,,,,,,,,",
      s"data,column,$Src.$t,$Tgt.$t,,,,,,,,$sumCol,$sumCol,,,,,,,,,,,,",
      s"data,row,$Src.$t,$Tgt.$t,,,,$pk,,,,,,,,,,,,,*,,,,")
    }
    Files.writeString(Paths.get(sheet), head + rows.mkString("\n") + "\n")
  }

  private def ddlJson(id: String) =
    s"""{"type": "ddl", "source": "teradata", "unique_id": "$id",
       | "migrationTask": {"translationConfigDetails": {
       |   "gcsSourcePath": "$scripts",
       |   "nameMappingList": {"name_map": [
       |     {"source": {"type": "SCHEMA", "schema": "gb_ddl"},
       |      "target": {"schema": "$DdlTgt"}}]}}}}""".stripMargin

  private def dataJson(id: String) =
    s"""{"type": "data", "source": "hive", "unique_id": "$id",
       | "dvt_check": "Y",
       | "transfer_config": {"dataSourceId": "HIVE", "displayName": "graftbench",
       |  "params": {"database_type": "Hive", "hive_db_name": "$Src",
       |   "hive_gcs_staging_path": "$staging", "bq_dataset_id": "$Tgt"}},
       | "validation_config": {
       |   "validation_type": "all",
       |   "validation_params_file_path": "$sheet"}}""".stripMargin

  /** Fresh target, ddl-target and audit databases under the iteration's
    * own directory, so no iteration sees another's tables. */
  private def freshDatabases(it: String): Unit =
    Seq(Tgt, DdlTgt, Logs).foreach { db =>
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      spark.sql(s"CREATE DATABASE $db LOCATION '$it/warehouse/$db.db'")
    }

  def iteration(i: Int): Unit = {
    val it = s"$root/it$i"
    freshDatabases(it)
    ctx.input(stagedBytes)
    if (ctx.traced) layered(i) else viaApp(it, i)
  }

  private def viaApp(it: String, i: Int): Unit = {
    val drops = s"$it/drops"
    Seq("ddl", "data").foreach(d => Files.createDirectories(Paths.get(s"$drops/$d")))
    val audit = new AuditSink(spark, Logs)
    val app = new GraftApp(spark, audit, s"$it/ck")
    val (ddlId, dataId) = (s"gb-ddl-$i", s"gb-data-$i")
    Files.writeString(Paths.get(s"$drops/ddl/$ddlId.json"), ddlJson(ddlId))
    val ddl = ctx.timed(app.runOnce(drops)).flatMap(_._2)
    Files.writeString(Paths.get(s"$drops/data/$dataId.json"), dataJson(dataId))
    val data = ctx.timed(app.runOnce(drops)).flatMap(_._2)
    val phases = ddl ++ data
    phases.foreach(p => ctx.expect(p.status == "Success", s"phase ${p.phase} is ${p.status}"))
    val nDvt = phases.count(_.phase.startsWith("dvt_"))
    ctx.expect(nDvt == ctx.pin("validations"), s"$nDvt validations")
    val reportRows = audit.read("dmt_report_table")
      .filter(col("unique_id").isin(ddlId, dataId)).count()
    ctx.expect(reportRows == ctx.pin("report_rows"), s"$reportRows report rows")
  }

  private def now() = new Timestamp(System.currentTimeMillis())

  private def layered(i: Int): Unit = {
    val audit = new AuditSink(spark, Logs)
    val sp = ctx.spans
    val (ddlId, dataId) = (s"gb-ddl-$i", s"gb-data-$i")
    val (tr, results, outcomes, dvt) = ctx.timed {
      val ddl = sp("config")(ConfigJson.parse(ddlJson(ddlId)))
      val files = sp("config")(ScriptScan.readScripts(spark, ddl.sourcePath))
      val tr = sp("translate")(TranslationEngine.translateDdl(files, ddl.mode, ddl.nameMapping))
      sp("audit")(audit.appendRows("dmt_translation_results", tr.errors.map(e =>
        Audit.TranslationResult(ddlId, e.fileName, e.statementIndex, e.category, e.message, now()))))
      val dbs = tr.translated.flatMap(_.statements).flatMap(s =>
        "(?i)CREATE TABLE (?:IF NOT EXISTS )?([\\w$]+)\\.".r.findFirstMatchIn(s).map(_.group(1)))
      val stmts = tr.translated.flatMap(f =>
        f.statements.zipWithIndex.map { case (s, j) => (s"${f.fileName}#$j", s) })
      val results = sp("schema") {
        DdlRunner.ensureDatabases(spark, dbs)
        DdlRunner.run(spark, stmts, ddl.batchDistribution)
      }
      sp("audit")(audit.appendRows("dmt_schema_results", results.map(r =>
        Audit.SchemaResult(ddlId, r.name, r.state.toString.toUpperCase, r.attempts,
          r.error.getOrElse(""), now()))))

      val data = sp("config")(ConfigJson.parse(dataJson(dataId)))
      val loads = E2ePipeline.TableKeys.map { case (t, _, _) =>
        TableLoader.LoadSpec(s"$Tgt.$t", s"$staging/$t") }
      val outcomes = sp("load")(TableLoader.loadAll(spark, loads, data.batchDistribution))
      sp("audit")(audit.appendRows("dmt_load_results", outcomes.map(o =>
        Audit.LoadResult(dataId, o.table, o.status, o.rowsLoaded, o.message, now()))))
      val specs = sp("config")(Controller.validationSpecs(
        ValidationParams.read(spark, data.validationParamsPath)
          .filter(_.translationType.equalsIgnoreCase(data.kind))))
      val dvt = specs.map(v => sp(s"validate.${v.kind}")(v -> validate(v)))
      sp("audit")(audit.appendRows("dmt_dvt_aggregated_results", dvt.map { case (v, (t, p)) =>
        Audit.ReportRow(dataId, s"dvt_${v.kind}:${v.targetTable}", t, p, t - p,
          Audit.classify(t, p), now())
      }))
      (tr, results, outcomes, dvt)
    }
    attempts ++= results.map(_.attempts)
    ctx.expect(tr.errors.isEmpty, s"${tr.errors.size} translation errors")
    results.foreach(r => ctx.expect(r.state == DdlRunner.Done, s"script ${r.name} is ${r.state}"))
    outcomes.foreach(o => ctx.expect(o.status == "PASS", s"load ${o.table} is ${o.status}"))
    dvt.foreach { case (v, (t, p)) =>
      ctx.expect(t == p, s"dvt ${v.kind}:${v.targetTable} passed $p of $t") }
    ctx.expect(dvt.size == ctx.pin("validations"), s"${dvt.size} validations")
  }

  /** One DVT check as the Controller runs it: (compared, passed). */
  private def validate(v: Controller.ValidationSpec): (Long, Long) = {
    val (src, tgt) = (spark.table(v.sourceTable), spark.table(v.targetTable))
    val result = v.kind match {
      case "column" => ColumnValidator.validate(src, tgt, v.aggSpecs, v.groupBy, v.pctThreshold)
      case "row" =>
        val cmp = if (v.compareCols.nonEmpty) v.compareCols
          else src.columns.toSeq.filterNot(v.primaryKeys.contains)
        RowValidator.validate(src, tgt, v.primaryKeys, cmp)
      case _ => SchemaValidator.validate(spark, src, tgt)
    }
    val c = result.groupBy().agg(count(lit(1)).as("total"),
      count(when(col("validation_status").isin("pass", "match"), 1)).as("passed")).head()
    (c.getAs[Long]("total"), c.getAs[Long]("passed"))
  }

  def check(): Unit = ()

  def layers(n: Int): Map[String, Double] = {
    val sp = ctx.spans
    val per = math.max(n, 1).toDouble
    def jobsIn(names: String*) = ctx.jobs.within(names.flatMap(sp.named))
    val load = jobsIn("load")
    val validate = jobsIn("validate.schema", "validate.column", "validate.row")
    Map(
      "config.self_s" -> sp.self("config") / per,
      "translate.self_s" -> sp.self("translate") / per,
      "schema.self_s" -> sp.self("schema") / per,
      "schema.attempts_per_script" ->
        (if (attempts.isEmpty) 0.0 else attempts.sum.toDouble / attempts.size),
      "load.self_s" -> sp.self("load") / per,
      "load.task_cpu_s" -> JobCounters.sumCpuS(load) / per,
      "load.written_mb" -> JobCounters.sumMb(load, _.writtenBytes) / per,
      "validate.schema_s" -> sp.total("validate.schema") / per,
      "validate.column_s" -> sp.total("validate.column") / per,
      "validate.row_s" -> sp.total("validate.row") / per,
      "validate.shuffle_mb" -> JobCounters.sumMb(validate, _.shuffleBytes) / per,
      "validate.task_cpu_s" -> JobCounters.sumCpuS(validate) / per,
      "core.audit_appends" -> sp.named("audit").size / per,
      "core.audit_s" -> sp.total("audit") / per)
  }
}
