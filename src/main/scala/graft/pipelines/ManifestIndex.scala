package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path

/** A store's own listing as Spark's file listing: one partition
  * directory per dir the store names (`VersionedStore`'s manifest
  * entries, `ByidStore`'s committed batch dirs), with the store's
  * partition values. Each dir is listed once, on the driver, through
  * the Hadoop FS API; partition filters are evaluated against the
  * given values, so `owner === x` reads only that owner's files.
  * Committed dirs are immutable, so two indexes over the same dirs are
  * equal — cached plans match across reads, as with Spark's own path
  * index. */
final class ManifestIndex private (spark: SparkSession, dirs: Seq[(Path, InternalRow)],
                                   override val partitionSchema: StructType)
    extends FileIndex {
  override val rootPaths: Seq[Path] = dirs.map(_._1)
  private lazy val listed: Seq[PartitionDirectory] = dirs.map { case (d, values) =>
    PartitionDirectory(values, d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(d).filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
        !f.getPath.getName.startsWith("_")))
  }
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    partitionFilters.reduceOption(And) match {
      case None => listed
      case Some(f) =>
        val keep = Predicate.createInterpreted(f.transform { case a: AttributeReference =>
          val i = partitionSchema.fieldNames.indexWhere(_.equalsIgnoreCase(a.name))
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
        listed.filter(p => keep.eval(p.values))
    }
  override def inputFiles: Array[String] =
    listed.flatMap(_.files.map(_.getPath.toString)).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = listed.flatMap(_.files.map(_.getLen)).sum
  override def equals(o: Any): Boolean = o match {
    case x: ManifestIndex => x.rootPaths.toSet == rootPaths.toSet
    case _ => false
  }
  override def hashCode: Int = rootPaths.toSet.hashCode
}

object ManifestIndex {

  /** A DataFrame over exactly `dirs`: Spark's own parquet scan, with
    * listing and partition values (Scala values, one per
    * `partitionSchema` field) from the caller instead of discovery,
    * and the schema given instead of inferred — building it launches
    * no job and touches no session conf. */
  def relation(spark: SparkSession, dirs: Seq[(String, Seq[Any])],
               partitionSchema: StructType, dataSchema: StructType): DataFrame = {
    val index = new ManifestIndex(spark, dirs.map { case (d, values) =>
      (new Path(d), InternalRow.fromSeq(values.map(CatalystTypeConverters.convertToCatalyst)))
    }, partitionSchema)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
  }
}
