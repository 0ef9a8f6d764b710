package graft

import org.apache.spark.sql.SparkSession

/** Library entry point for users: a SparkSession wired the way the engine
  * expects — UTC session timezone (the cross-engine timestamp contract),
  * micros parquet timestamps, and the native SQL functions registered.
  *
  * {{{
  * val spark = Graft.session()            // or .builder() to customize
  * spark.read.format("netcdf").load(dir)  // sources register via services
  * spark.sql("SELECT polyhash(text) FROM docs")
  * }}}
  */
object Graft {

  /** Pre-configured builder; call `.master(...)` / `.config(...)` to
    * customize before `getOrCreate()`.
    */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

  /** Get-or-create a session and ensure the SQL functions are present
    * even when an existing session (built without the extensions config)
    * is returned. Registration is idempotent.
    */
  def session(): SparkSession = {
    val s = builder().getOrCreate()
    graft.functions.GraftExtensions.register(s)
    s
  }

  /** Run `body` with every frame the engine materializes inside it
    * released on exit, except what the returned value still reads.
    * See docs/API.md, "Materialization scopes".
    */
  def scoped[T](body: => T): T = graft.engine.Pin.scoped(body)
}
