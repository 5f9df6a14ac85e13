package graft.pipeline

import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** `_GRAFT_SCHEMA`: the physical schema a zone commit wrote, kept beside
  * its data (the Delta/Iceberg log idea, scaled to one file). Readers pass
  * it to `spark.read.schema(...)`, so opening a zone lists its files but
  * reads no parquet footer and runs no Spark job — schema inference is one
  * job per read and grows with the zone's file count.
  *
  * Stored as Spark DDL (`StructType.toDDL`, all fields nullable — parquet
  * reads every column back nullable): a few dozen bytes per commit, parsed
  * back with `StructType.fromDDL`. Committed by temp write + atomic rename
  * like every other zone metadata file.
  */
private[graft] object ZoneSchema {

  val FileName = "_GRAFT_SCHEMA"

  def read(dir: String): Option[StructType] = {
    val f = new java.io.File(dir, FileName)
    if (!f.isFile) None
    else Some(StructType.fromDDL(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")))
  }

  def write(dir: java.io.File, schema: StructType): Unit = {
    val tmp = new java.io.File(dir, FileName + ".tmp")
    java.nio.file.Files.write(tmp.toPath,
      nullable(schema).asInstanceOf[StructType].toDDL.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, new java.io.File(dir, FileName).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(m.keyType, nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The committed schema, or a loud failure: a zone read never falls
    * back to footer inference.
    */
  def committed(dir: String): StructType = read(dir).getOrElse(
    throw new IllegalStateException(s"$dir has no committed $FileName — " +
      "the zone predates schema commits or its commit was torn; rebuild it"))
}
