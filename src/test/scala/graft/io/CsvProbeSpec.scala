package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** S1 charset/separator probing and S4 routing
  * (reference main.py:1337-1342, 1188-1204). */
class CsvProbeSpec extends SparkSpec {

  private def tmpCsv(content: Array[Byte]): String = {
    val f = Files.createTempFile("probe_spec", ".csv")
    Files.write(f, content)
    f.toString
  }

  test("utf-8 with semicolons detected") {
    val (cs, sep) = CsvProbe.probe(
      tmpCsv("a;b;c\n1;2;3\n".getBytes(StandardCharsets.UTF_8)))
    assert(cs === StandardCharsets.UTF_8)
    assert(sep === ';')
  }

  test("latin-1 accents fall back from utf-8") {
    val (cs, sep) = CsvProbe.probe(
      tmpCsv("id,campaña\n1,café\n".getBytes(StandardCharsets.ISO_8859_1)))
    assert(cs === StandardCharsets.ISO_8859_1)
    assert(sep === ',')
  }

  test("separator inside quotes is not counted") {
    val (_, sep) = CsvProbe.probe(
      tmpCsv("a;\"x,y,z,w\";c\n".getBytes(StandardCharsets.UTF_8)))
    assert(sep === ';')
  }

  test("probe reads at most probeBytes and survives a split multibyte char") {
    // é at exactly the truncation boundary; trim-to-newline must rescue UTF-8
    val line = "héllo wörld;1\n"
    val big = (line * 20000).getBytes(StandardCharsets.UTF_8)
    val path = tmpCsv(big)
    val (cs, _) = CsvProbe.probe(path, probeBytes = 1001) // mid-char cut likely
    assert(cs === StandardCharsets.UTF_8)
  }

  test("empty file does not crash") {
    val (cs, _) = CsvProbe.probe(tmpCsv(Array.emptyByteArray))
    assert(cs === StandardCharsets.UTF_8) // empty decodes as anything; first wins
  }

  test("routeByName (main.py:1188-1204)") {
    assert(CsvProbe.routeByName("Reporte_Conducta_2024.csv") === Some("conducta"))
    assert(CsvProbe.routeByName("estados_ops.csv") === Some("estados_operativos"))
    assert(CsvProbe.routeByName("OPERATIVOS.xlsx") === Some("estados_operativos"))
    assert(CsvProbe.routeByName("other.csv") === None)
  }

  test("read: full pipeline (probe + distributed read) decodes latin-1") {
    val path = tmpCsv("id;campaña\n1;café\n2;niño\n"
      .getBytes(StandardCharsets.ISO_8859_1))
    val df = CsvProbe.read(spark, path)
    assert(df.columns.toSeq === Seq("id", "campaña"))
    assert(df.count() === 2)
    assert(df.collect().map(_.getString(1)).toSet === Set("café", "niño"))
  }

  /** What `spark.read` infers with the options `read` chose. */
  private def sparkInferred(path: String) = {
    val (cs, sep) = CsvProbe.probe(path)
    spark.read.option("header", "true").option("sep", sep.toString)
      .option("encoding", cs.name()).option("mode", "PERMISSIVE").csv(path)
  }

  private val headerFixtures: Seq[(String, Array[Byte])] = Seq(
    "duplicate names" -> "a,b,a,b\n1,2,3,4\n5,6,7,8\n".getBytes(StandardCharsets.UTF_8),
    "blank names" -> "a,,c, \n1,2,3,4\n".getBytes(StandardCharsets.UTF_8),
    "case-colliding names" -> "Id,id,ID,x\n1,2,3,4\n".getBytes(StandardCharsets.UTF_8),
    "quoted name holding the separator" ->
      "\"a;b\";c;\"d\"\"e\"\n1;2;3\n".getBytes(StandardCharsets.UTF_8),
    "latin-1 accented header" ->
      "campaña;año;dirección\nsí;1;calle ñ\n".getBytes(StandardCharsets.ISO_8859_1),
    "utf-8 BOM" -> "\uFEFFid,nombre\n1,José\n".getBytes(StandardCharsets.UTF_8),
    "BOM before a latin-1 body" -> (Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
      "id;año\n1;sí\n".getBytes(StandardCharsets.ISO_8859_1)),
    "leading blank lines" -> "\n\n   \nid,v\n\n1,x\n2,y\n".getBytes(StandardCharsets.UTF_8),
    "CRLF and lone CR breaks" -> "id;v\r\n1;x\r2;y\r\n".getBytes(StandardCharsets.UTF_8),
    "header longer than the head window" ->
      ((1 to 9000).map(i => s"col_$i").mkString(",") + "\n" +
        (1 to 9000).mkString(",") + "\n").getBytes(StandardCharsets.UTF_8))

  headerFixtures.foreach { case (name, bytes) =>
    test(s"read: header schema and rows equal Spark's inference ($name)") {
      val path = tmpCsv(bytes)
      val got = CsvProbe.read(spark, path)
      val want = sparkInferred(path)
      assert(got.schema === want.schema)
      val rows = (df: org.apache.spark.sql.DataFrame) =>
        df.collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq
      assert(rows(got) === rows(want))
    }
  }

  test("read builds its frame without a Spark job (the header comes from " +
      "the probed head)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val path = tmpCsv("id;campaña\n1;café\n".getBytes(StandardCharsets.ISO_8859_1))
    sc.addSparkListener(listener)
    try {
      def jobsIn(group: String)(body: => Unit): Int = {
        sc.setJobGroup(group, group)
        try body finally sc.clearJobGroup()
        // a marker job after the body: the bus delivers events in order,
        // so once it is seen every job the body started has been seen
        sc.setJobGroup(s"$group-marker", "marker")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 30e9.toLong
        while (!seen.contains(s"$group-marker") && System.nanoTime() < deadline)
          Thread.sleep(10)
        assert(seen.contains(s"$group-marker"))
        seen.asScala.count(_ == group)
      }
      assert(jobsIn("probe-read")(CsvProbe.read(spark, path)) === 0)
      // the listener does see the header job Spark's own inference runs
      assert(jobsIn("spark-infer")(sparkInferred(path)) >= 1)
    } finally sc.removeSparkListener(listener)
  }

  test("property: routeCol (distributed) == routeByName (driver) on " +
      "arbitrary filenames") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val gen = for {
      pre <- org.scalacheck.Gen.alphaNumStr
      mid <- org.scalacheck.Gen.oneOf(
        "conducta", "estados", "operativo", "CONDUCTA", "Estados", "x", "")
      post <- org.scalacheck.Gen.alphaNumStr
    } yield s"$pre$mid$post.csv"
    val names = Iterator.continually(gen.sample).flatten.take(60).toSeq
    val out = names.toDF("f")
      .select(col("f"), CsvProbe.routeCol(col("f")).as("r")).collect()
    out.foreach { r =>
      assert(Option(r.getString(1)) === CsvProbe.routeByName(r.getString(0)),
        s"diverged on '${r.getString(0)}'")
    }
  }
}
