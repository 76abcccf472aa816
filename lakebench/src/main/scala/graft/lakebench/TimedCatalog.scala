package graft.lakebench

import graft.catalog.GraftCatalog
import graft.format.TableMetadata

/** A [[GraftCatalog]] whose version probe, metadata load and CAS commit are
  * timed as `catalog` spans of the current operation. Behaviour is the
  * parent class's; only the calls are observed.
  */
final class TimedCatalog(warehouse: String, rec: Recorder) extends GraftCatalog(warehouse) {
  override def currentVersion(name: String): Int =
    rec.span("catalog.probe", "catalog")(super.currentVersion(name))

  override def loadMetadata(name: String): (Int, TableMetadata) =
    rec.span("catalog.load", "catalog")(super.loadMetadata(name))

  override def commit(name: String, expectedVersion: Int, newMeta: TableMetadata): Int =
    rec.span("catalog.commit", "catalog")(super.commit(name, expectedVersion, newMeta))
}
