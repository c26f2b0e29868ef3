package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.nested.{NestedExpr, NestedOps}
import graft.sources.NestedParquet
import Fingerprint.Spec

/** One notebook user issuing a fixed sequence of small operations against
  * a pre-packed nested table. Each operation reads the columns it needs
  * (partial nested leaves), applies one library call and looks at the
  * result. Building and analyzing each DataFrame is a large share of every
  * operation, so this workload is where parsing and planning show. */
object Notebook extends Workload {
  val name = "notebook_interactive"
  val Objects = 2000L
  val MeanElems = 50.0
  /** Operations in the sequence; the kinds repeat in [[Kinds]] order and
    * only their parameters depend on the seed. */
  val Length = 200

  val Kinds: Seq[String] = Seq("select", "query", "query", "eval", "reduce",
    "count_by", "sort_elements", "to_flat", "describe", "head")

  def generate(spark: SparkSession, dir: String, seed: Long,
               files: Int): Inputs = {
    Gen.table(spark, s"$dir/nested", Gen.nbNestedSchema, Objects, files) { k =>
      val (b, e) = Gen.nbObject(seed, k, MeanElems)
      Iterator(Gen.nbNestedRow(b, e))
    }
    Gen.table(spark, s"$dir/flat", Gen.nbFlatSchema, Objects, files)(k =>
      Gen.nbObject(seed, k, MeanElems)._2.iterator)
    Inputs(dir, seed, spark.read.parquet(s"$dir/flat").count())
  }

  /** One operation: how to build it with the library, what to hash of its
    * result, whether the user collects it (else it goes to the noop sink),
    * and the flat reference formulation (given the schema of the engine's
    * result, so it can hash values of the same types). */
  private final case class Op(kind: String, build: Spans => DataFrame,
                              spec: Spec, collect: Boolean,
                              reference: StructType => Fingerprint)

  def open(spark: SparkSession, in: Inputs,
           outDir: String): Client = new Client {
    private val nestedPath = s"${in.dir}/nested"
    // only the reference formulations read these plain tables, after timing:
    // the base columns of the nested table, and the flat element table
    private lazy val base = spark.read.parquet(nestedPath)
      .select(Gen.nbBaseSchema.fieldNames.toSeq.map(col): _*).cache()
    private lazy val flat = spark.read.parquet(s"${in.dir}/flat").cache()
    private val ops = (0 until Length).map(op)
    /** (operation, its observed fingerprint, its result schema) */
    private val outputs =
      mutable.ArrayBuffer.empty[(Int, Observation, StructType)]

    override def cycle: Int = Kinds.length
    override def kind(i: Int): String = ops(i % Length).kind

    private def read(sp: Spans, cols: String*): DataFrame =
      sp.span("sources.read")(NestedParquet.selectColumns(
        NestedParquet.readCompat(spark, nestedPath), cols))

    private def op(i: Int): Op = {
      val r = Gen.rng(in.seed, 20, i)
      val f = if (r.nextBoolean()) "flux" else "err"
      Kinds(i % Kinds.length) match {
        case "select" =>
          Op("select", sp => read(sp, "id", "ra", "lc.t", s"lc.$f"),
            Spec(Seq("id", "ra"), Some("lc"), Seq("t", f)), collect = false,
            _ => Fingerprint.flat(base, Seq("id", "ra"),
              Some((flat, Seq("id", "t", f)))))
        case "query" if i % Kinds.length == 1 =>
          val ra = Gen.dyadic(r, 0, 300, 2)
          val cls = Gen.Classes(r.nextInt(Gen.Classes.length))
          Op("query", { sp =>
            val nf = read(sp, "id", "ra", "cls", "lc.t", "lc.flux")
            sp.span("nested.query")(
              NestedExpr.query(nf, s"ra > $ra and cls == '$cls'"))
          }, Spec(Seq("id", "ra", "cls"), Some("lc"), Seq("t", "flux")),
            collect = false, { _ =>
              val b = base.where(col("ra") > ra && col("cls") === cls)
              Fingerprint.flat(b, Seq("id", "ra", "cls"), Some((flat.join(
                b.select("id"), "id"), Seq("id", "t", "flux"))))
            })
        case "query" =>
          val v = Gen.dyadic(r, 0, 150, 2)
          val band = Gen.Bands(r.nextInt(Gen.Bands.length))
          Op("query", { sp =>
            val nf = read(sp, "id", "lc.t", "lc.flux", "lc.band")
            sp.span("nested.query")(
              NestedExpr.query(nf, s"lc.flux > $v and lc.band == '$band'"))
          }, Spec(Seq("id"), Some("lc"), Seq("t", "flux", "band")),
            collect = false, _ => Fingerprint.flat(base, Seq("id"),
              Some((flat.where(col("flux") > v && col("band") === band),
                Seq("id", "t", "flux", "band")))))
        case "eval" =>
          Op("eval", { sp =>
            val nf = read(sp, "id", "lc.t", "lc.flux", "lc.err")
            sp.span("nested.evalAssign")(
              NestedExpr.evalAssign(nf, "lc.snr = lc.flux / lc.err"))
          }, Spec(Seq("id"), Some("lc"), Seq("t", "snr")), collect = false,
            _ => Fingerprint.flat(base, Seq("id"), Some((flat.withColumn(
              "snr", col("flux") / col("err")), Seq("id", "t", "snr")))))
        case "reduce" =>
          val out = Seq("id", s"${f}_mean", s"${f}_max", "t_min")
          Op("reduce", { sp =>
            val nf = read(sp, "id", "lc.t", s"lc.$f")
            sp.span("nested.reduce")(nf.select(col("id"),
              NestedOps.elementMean("lc", f).as(out(1)),
              NestedOps.elementMax("lc", f).as(out(2)),
              NestedOps.elementMin("lc", "t").as(out(3))))
          }, Spec(out), collect = false, _ => Fingerprint.flat(
            flat.groupBy("id").agg(avg(f).as(out(1)), max(f).as(out(2)),
              min("t").as(out(3))), out, None))
        case "count_by" =>
          val out = Seq("id") ++ Gen.Bands.map(b => s"n_lc_$b")
          def build(sp: Spans): DataFrame = {
            val nf = read(sp, "id", "lc.band")
            sp.span("nested.countNested")(NestedOps.countNested(nf, "lc",
              Some("band"), Gen.Bands.toSeq)).select(out.map(col): _*)
          }
          Op("count_by", build, Spec(out), collect = false, { schema =>
            val counts = flat.groupBy("id").agg(count_if(col("band") === "g"),
              count_if(col("band") === "r"), count_if(col("band") === "i"))
              .toDF(out: _*)
            Fingerprint.flat(Workload.alignTo(counts, schema), out, None)
          })
        case "sort_elements" =>
          Op("sort_elements", { sp =>
            val nf = read(sp, "id", "lc.t", "lc.band")
            sp.span("nested.sortElements")(NestedOps.sortElements(nf, "lc",
              Seq(("band", false), ("t", true))))
          }, Spec(Seq("id"), Some("lc"), Seq("band", "t"), ordered = true),
            collect = false, { _ =>
              val w = Window.partitionBy("id")
                .orderBy(col("band").desc, col("t").asc)
              Fingerprint.flat(base, Seq("id"), Some((flat.withColumn("pos",
                (row_number().over(w) - 1).cast("int")),
                Seq("id", "pos", "band", "t"))))
            })
        case "to_flat" =>
          Op("to_flat", { sp =>
            val nf = read(sp, "id", "lc.t", s"lc.$f")
            sp.span("nested.toFlat")(
              NestedOps.toFlat(nf, "lc", Seq("id"), Seq("t", f)))
          }, Spec(Seq("id", "t", f)), collect = false,
            _ => Fingerprint.flat(flat, Seq("id", "t", f), None))
        case "describe" =>
          val spec = Spec(Seq("column", "stat", "shown"))
          Op("describe", { sp =>
            val nf = read(sp, "z", s"lc.$f")
            sp.span("nested.describeAll")(NestedOps.describeAll(nf))
              .withColumn("shown", format_string("%.9e", col("value")))
          }, spec, collect = true, _ => Fingerprint.flat(
            describeFlat(Seq("z" -> base, s"lc.$f" -> flat))
              .withColumn("shown", format_string("%.9e", col("value"))),
            spec.base, None))
        case "head" =>
          val k = 5 + r.nextInt(20)
          Op("head", { sp =>
            val nf = read(sp, "id", "ra", "lc.t", "lc.flux")
            sp.span("nested.sortValues")(NestedOps.sortValues(nf,
              Seq(("ra", false), ("id", true)))).limit(k)
          }, Spec(Seq("id", "ra"), Some("lc"), Seq("t", "flux")),
            collect = true, { _ =>
              val top = base.orderBy(col("ra").desc, col("id").asc).limit(k)
              Fingerprint.flat(top, Seq("id", "ra"), Some((flat.join(
                top.select("id"), "id"), Seq("id", "t", "flux"))))
            })
      }
    }

    /** pandas-style describe rows (column, stat, value) of single columns,
      * computed with plain Spark aggregates. */
    private def describeFlat(cols: Seq[(String, DataFrame)]): DataFrame = {
      val pcts = Seq(0.25, 0.5, 0.75)
      cols.map { case (label, df) =>
        val c = col(label.split('.').last)
        df.agg(count(c).cast("double").as("count"), avg(c).as("mean"),
          stddev_samp(c).as("std"), min(c).cast("double").as("min"),
          percentile(c, lit(pcts.toArray)).as("p"),
          max(c).cast("double").as("max"))
          .select(explode(array(
            Seq("count", "mean", "std", "min").map(s =>
              struct(lit(label).as("column"), lit(s).as("stat"),
                col(s).as("value"))) ++
            pcts.indices.map(j => struct(lit(label).as("column"),
              lit(s"${(pcts(j) * 100).toInt}%").as("stat"),
              element_at(col("p"), j + 1).as("value"))) :+
            struct(lit(label).as("column"), lit("max").as("stat"),
              col("max").as("value")): _*)).as("e"))
          .select("e.*")
      }.reduce(_ unionAll _)
    }

    private def run(i: Int, sp: Spans): (Int, Observation, StructType) = {
      val o = ops(i % Length)
      val df = sp.span("nested.build")(o.build(sp))
      val (out, obs) = Fingerprint.observe(df, o.spec)
      sp.span(s"nested.op.${o.kind}")(
        if (o.collect) out.collect() else Fingerprint.noop(out))
      (i, obs, df.schema)
    }

    // a pass is one operation: set-up ends with the first one, and three
    // rounds of every kind warm up before timing starts (planning code is
    // still getting faster after one)
    def cold(): Unit = run(0, NoTrace)
    override def warmPasses: Int = 3 * Kinds.length

    def pass(i: Int, sp: Spans): Unit = outputs += run(i, sp)

    def check(): Checked = {
      // the reference queries are small; run them side by side, one
      // client thread per core, so the checks stay short
      val distinct = outputs.map(o => (o._1 % Length, o._3)).distinct.toSeq
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        spark.sparkContext.defaultParallelism)
      base.count(); flat.count()
      val want = try {
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        Await.result(Future.traverse(distinct) { case (i, schema) =>
          Future(i -> ops(i).reference(schema)) }, Duration.Inf).toMap
      } finally pool.shutdown()
      val bad = outputs.flatMap { case (i, obs, _) =>
        val fp = Fingerprint.of(obs)
        val w = want(i % Length)
        if (fp == w) None
        else Some(s"op $i (${kind(i)}): $fp, flat reference $w")
      }
      Checked(outputs.length, bad.length, bad.toSeq)
    }

    /** The highest of p90 and p75 that has at least ten samples beyond it:
      * p90 needs 100 operations in a run, p75 needs 40. */
    override def figures(latencies: Seq[Double]): Seq[Figure] = {
      val n = latencies.length
      Seq(90, 75).find(p => n * (100 - p) >= 1000).map(p => Figure(
        s"op_ms_p$p", 1e3 * Stats.quantile(latencies, p / 100.0), "ms", n)).toSeq
    }

    def layers(tr: Tracer, passes: Seq[Span], untraced: Seq[Double])
        : Map[String, Double] = {
      val scan = Workload.probe(tr, "probe.scan", 3)(Fingerprint.noop(read(
        NoTrace, "id", "ra", "dec", "cls", "z", "lc.t", "lc.flux", "lc.err",
        "lc.band", "lc.flag")))
      tr.drain()
      val perKind = passes.groupBy(p => kind(p.run)).map { case (k, ps) =>
        s"nested.op.${k}_ms" -> 1e3 * Stats.median(ps.map(_.seconds))
      }
      perKind ++ Map(
        "sources.scan_s" -> scan,
        "nested.build_ms" -> 1e3 * Workload.spanMedian(tr, passes,
          _ == "nested.build"))
    }
  }
}
