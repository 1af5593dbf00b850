package graft.core

import org.apache.spark.sql.types.DataType

/**
 * Core metadata model, mirrored from the reference's OphidiaDB catalog
 * (`src/oph_ophidiadb_query.h`, `src/oph_ophidiadb_fs_library.h`) and the
 * JSON Response object model (`src/oph_json/`).
 */

/** A dimension of a cube. Explicit dims are real columns (the reference
  * fragments over them); implicit dims live inside the measure array
  * (the reference serializes them into the fragment BLOB —
  * `src/oph_subset_library.h:35` context). */
final case class DimensionSpec(
    name: String,
    dataType: String,          // byte|short|int|long|float|double|string
    explicit: Boolean,
    size: Option[Long] = None, // known extent, resolves the `end` keyword
    conceptLevel: Option[String] = None) // e.g. time hierarchy level

/** Cube descriptor — the reference's `datacube` row plus its dimension and
  * metadata satellites (`src/oph_filters.c:70,106,298,345-363`).
  * PID format `<base>/<containerId>/<cubeId>` per
  * `src/oph_massive_operations.c:346`. */
final case class CubeDescriptor(
    id: Long,
    containerId: Long,
    container: String,
    path: String,                       // VFS folder path, '/'-rooted
    measure: String,
    measureType: String,
    level: Int,                         // #transformations since import
    explicitDims: Seq[DimensionSpec],
    implicitDims: Seq[DimensionSpec],
    metadata: Map[String, String] = Map.empty,
    sourceTask: Option[String] = None,  // provenance: producing operator
    parents: Seq[Long] = Seq.empty,     // provenance: input cube ids
    fragments: Int = 0) {               // recorded partition count
  def pid(base: String = "graft:/"): String = s"$base/$containerId/$id"
}

/** Job status enum — 1:1 with the reference's `OPH_ODB_STATUS_*` lifecycle
  * used throughout `src/oph_workflow_engine.c`. */
object JobStatus extends Enumeration {
  val Unknown, Pending, Wait, Running, Start, SetEnv, Init, Distribute,
      Execute, Reduce, Destroy, Unsetenv, Completed, Error, StartError,
      Unselected, Skipped, Aborted, Expired = Value
}

/**
 * JSON Response object model (`src/oph_json/oph_json_common.h:60-72`):
 * typed result objects keyed by objkey. `Grid` is a relational table
 * (`oph_json_grid.h:38-47`); `MultiDimGrid` a pivoted cube slice
 * (`oph_json_multigrid.h:50-71`); `TreeObj`/`GraphObj` node-link structures
 * (`oph_json_tree.h:39-49`, `oph_json_graph.h`); `TextObj` title+message.
 */
sealed trait ResponseObject { def objkey: String; def title: String }

final case class TextObj(objkey: String, title: String, message: String)
    extends ResponseObject

final case class Grid(
    objkey: String,
    title: String,
    keys: Seq[String],
    fieldTypes: Seq[String],
    values: Seq[Seq[String]]) extends ResponseObject

/** `oph_json_obj_multigrid` (`oph_json_multigrid.h:50-71`): the
  * row-axis values (`rowvalues`) and the measure matrix
  * (`measurevalues`) are SEPARATE fields on the wire — a consumer
  * indexes the measure matrix by (row, array position) without
  * knowing the row-axis arity. */
final case class MultiDimGrid(
    objkey: String,
    title: String,
    rowKeys: Seq[String],
    rowFieldTypes: Seq[String],
    colKeys: Seq[String],
    colFieldTypes: Seq[String],
    colValues: Seq[Seq[String]],
    measureName: String,
    measureType: String,
    rowValues: Seq[Seq[String]],
    measureValues: Seq[Seq[String]]) extends ResponseObject

final case class GraphNode(values: Seq[String])
final case class GraphLink(node1: Int, node2: Int, description: String)

final case class GraphObj(
    objkey: String,
    title: String,
    directed: Boolean,
    nodeKeys: Seq[String],
    nodes: Seq[GraphNode],
    links: Seq[GraphLink]) extends ResponseObject

/** `oph_json_obj_tree` (`oph_json_tree.h:39-49`): a rooted node-link
  * structure; `rootnode` is the root's node INDEX rendered as a
  * string, and links are indexed by their source node like the
  * (di)graph's. */
final case class TreeObj(
    objkey: String,
    title: String,
    description: Option[String],
    rootnode: Int,
    nodeKeys: Seq[String],
    nodes: Seq[GraphNode],
    links: Seq[GraphLink]) extends ResponseObject

final case class Response(
    source: Map[String, String],
    consumers: Seq[String],
    objects: Seq[ResponseObject])

object SparkTypeName {
  /** Spark DataType → the reference's measure-type vocabulary
    * (`src/oph_json/oph_json_common.h:35-42`). */
  def apply(dt: DataType): String = dt.typeName match {
    case "byte" => "byte"; case "short" => "short"
    case "integer" => "int"; case "long" => "long"
    case "float" => "float"; case "double" => "double"
    case "string" => "string"; case "binary" => "blob"
    case "timestamp" => "long"  // time dims carried as epoch values
    case "date" => "long"
    case other => other
  }
}
