package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.{Lake, TableMeta}

/** A [[Lake]] that opens a span around every create/append/optimize and
  * records what each call did to the table's files, seen from outside:
  * the part files (path → bytes) are listed before and after the call, and
  * before an optimize the `_pending` ledger is read for the number of
  * partitions it will rewrite. Used only in traced runs.
  *
  * Span attrs: `bytes_added` (bytes of part files that are new after the
  * call), `files` (live part files after it) and, on optimize,
  * `partitions`.
  */
final class SpyLake(spark: SparkSession, root: String, tracer: Tracer)
    extends Lake(spark, root) {

  override def create(meta: TableMeta, mode: String): Unit =
    spied("create", meta.name)(super.create(meta, mode))

  override def append(name: String, df: DataFrame): Unit =
    spied("append", name)(super.append(name, df))

  override def optimize(name: String, orderCol: String): Unit = {
    val pending = Paths.get(s"$root/$name/_pending")
    val parts =
      if (Files.exists(pending)) Files.readString(pending).split("\n").count(_.nonEmpty)
      else 0
    spied("optimize", name, "partitions" -> parts.toDouble)(super.optimize(name, orderCol))
  }

  private def spied(op: String, table: String, extra: (String, Double)*)(f: => Unit): Unit =
    tracer.span(s"catalog.$op:$table") {
      val before = partFiles(table)
      f
      val after = partFiles(table)
      tracer.current.foreach { s =>
        s.attrs ++= extra
        s.attrs("bytes_added") =
          after.iterator.filterNot(kv => before.contains(kv._1)).map(_._2).sum.toDouble
        s.attrs("files") = after.size.toDouble
      }
    }

  private def partFiles(table: String): Map[Path, Long] = {
    val data = Paths.get(s"$root/$table/data")
    if (!Files.exists(data)) Map.empty
    else {
      val st = Files.walk(data)
      try st.iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
        .map(p => p -> Files.size(p)).toMap
      finally st.close()
    }
  }
}
