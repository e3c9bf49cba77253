package graftbench

import java.security.MessageDigest

/** Checks the generated inputs against their manifest: before any pass
  * each table's sha256 must match what the generator recorded, or the run
  * stops; the workloads check row counts when they compute their reference
  * answers. */
object Inputs {
  private def manifest(dir: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(dir, "manifest.json"))

  private def entry(dir: String, table: String) = {
    val e = manifest(dir).path("tables").get(table)
    require(e != null, s"$dir/manifest.json has no table $table")
    e
  }

  def validate(dir: String, tables: Seq[String]): Unit = tables.foreach { table =>
    val sha = sha256(new java.io.File(dir, s"$table.parquet"))
    require(sha == entry(dir, table).get("sha256").asText,
      s"$dir/$table.parquet: sha256 $sha does not match the manifest")
  }

  /** Fails unless `rows` is the table's row count in the manifest. */
  def checkRows(dir: String, table: String, rows: Long): Unit = {
    val want = entry(dir, table).get("rows").asLong
    require(rows == want, s"$dir/$table.parquet: $rows rows, the manifest says $want")
  }

  /** sha256 over a table directory's files in name order. */
  private def sha256(table: java.io.File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    Option(table.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach { f =>
      val in = new java.io.FileInputStream(f)
      try Iterator.continually(in.read(buf)).takeWhile(_ >= 0).foreach(n => md.update(buf, 0, n))
      finally in.close()
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
