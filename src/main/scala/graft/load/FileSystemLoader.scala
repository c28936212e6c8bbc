package graft.load

import graft.collect.{Phenopacket, PhenopacketJson}
import org.apache.spark.sql.Dataset

/** S6 — one pretty-printed `<packet id>.json` per phenopacket into a
  * directory (reference `phenoxtract/src/load/file_system_loader.rs:50-100`).
  *
  * Spark shape: `foreachPartition` writer — each executor writes its own
  * partition's packets directly (one small file per document is the
  * contract, same as the reference).
  */
object FileSystemLoader {

  /** Requires `outDir` to be on a filesystem shared by driver and
    * executors (local mode, NFS, fuse-mounted object store) — the
    * writers run ON THE EXECUTORS. The directory is created inside
    * each partition task, not just on the driver: in cluster mode a
    * driver-only mkdir would leave executors throwing
    * NoSuchFileException (writeString does not create parents).
    */
  def load(packets: Dataset[Phenopacket], outDir: String, createDir: Boolean = true): Unit = {
    val dir = outDir
    val create = createDir
    // driver-side too, so an empty dataset still yields the directory
    // (the reference's create_dir_all contract)
    if (create) new java.io.File(outDir).mkdirs()
    packets.foreachPartition { (it: Iterator[Phenopacket]) =>
      if (create && it.hasNext)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      it.foreach { p =>
        val path = java.nio.file.Paths.get(dir, s"${fileName(p.id)}.json")
        java.nio.file.Files.writeString(path, PhenopacketJson.render(p))
      }
    }
  }

  /** Filesystem-safe file name, COLLISION-PROOF: ids that are already
    * safe keep their exact name (the reference's behavior and what the
    * golden fixtures pin); an id that needed sanitization gets an
    * 8-hex digest of the ORIGINAL id appended — "site/001" and
    * "site_001" would otherwise both write `site_001.json` and the
    * last partition to flush would silently overwrite the other
    * packet.
    */
  private def fileName(id: String): String = {
    val safe = id.replaceAll("[^A-Za-z0-9._-]", "_")
    if (safe == id) safe
    else {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      safe + "-" + d.take(4).map(b => f"$b%02x").mkString
    }
  }
}
