package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.sources.{GeoTIFF, NetCDF}

/** Turns the generator's raw blobs into the program's native input formats
  * with the program's own writers: ERA5-like NetCDF cubes (CF-packed
  * shorts, fill holes, an unlimited CF time axis) and tiled float32
  * GeoTIFF rasters. Runs in its own JVM, before the measured one starts.
  */
object Writer {

  private def bytes(path: String): ByteBuffer =
    ByteBuffer.wrap(Files.readAllBytes(Paths.get(path)))
      .order(ByteOrder.LITTLE_ENDIAN)

  private def doubles(n: JsonNode): Array[Double] =
    n.elements().asScala.map(_.asDouble).toArray

  private def writeNetCDF(e: JsonNode): Unit = {
    import NetCDF._
    val time = doubles(e.get("time"))
    val lat = doubles(e.get("latitude"))
    val lon = doubles(e.get("longitude"))
    val dims = Seq(Dim("time", 0), Dim("latitude", lat.length),
      Dim("longitude", lon.length))
    def str(n: String, v: String) = Att(n, NC_CHAR, Left(v))
    def num(n: String, t: Int, v: Double) = Att(n, t, Right(Seq(v)))
    val coords = Seq(
      "time" -> VarSpec(Seq("time"), NC_INT, time, Seq(
        str("units", "hours since 1900-01-01 00:00:00.0"),
        str("calendar", "gregorian"))),
      "latitude" -> VarSpec(Seq("latitude"), NC_FLOAT, lat,
        Seq(str("units", "degrees_north"))),
      "longitude" -> VarSpec(Seq("longitude"), NC_FLOAT, lon,
        Seq(str("units", "degrees_east"))))
    val data = e.get("vars").elements().asScala.map { v =>
      val buf = bytes(v.get("raw").asText).asShortBuffer()
      val vals = Array.tabulate(buf.remaining())(i => buf.get(i).toDouble)
      v.get("name").asText -> VarSpec(Seq("time", "latitude", "longitude"),
        NC_SHORT, vals, Seq(
          num("scale_factor", NC_DOUBLE, v.get("scale").asDouble),
          num("add_offset", NC_DOUBLE, v.get("offset").asDouble),
          num("_FillValue", NC_SHORT, -32767), num("missing_value", NC_SHORT, -32767)))
    }.toSeq
    val path = e.get("path").asText
    Files.createDirectories(Paths.get(path).getParent)
    NetCDF.write(path, dims, coords ++ data,
      Seq(str("Conventions", "CF-1.6")), numRecs = time.length)
  }

  private def writeGeoTIFF(e: JsonNode): Unit = {
    val buf = bytes(e.get("raw").asText).asFloatBuffer()
    val vals = Array.tabulate(buf.remaining())(i => buf.get(i))
    val path = e.get("path").asText
    val tile = e.get("tile").asInt
    Files.createDirectories(Paths.get(path).getParent)
    GeoTIFF.writeFloat32Tiled(path, e.get("width").asInt,
      e.get("height").asInt, vals, tile, tile)
  }

  def main(manifestPath: String): Unit = {
    val m = new ObjectMapper().readTree(Paths.get(manifestPath).toFile)
    m.get("netcdf").elements().asScala.foreach(writeNetCDF)
    m.get("geotiff").elements().asScala.foreach(writeGeoTIFF)
  }
}
