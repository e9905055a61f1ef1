"""XML XEvent source — the public decoded representation of an Extended
Events trace.

SQL Server's `sys.fn_xe_file_target_read_file` returns each event as an
XML document of the (public, documented) shape:

    <event name="wait_info" package="sqlos" timestamp="2024-01-01T00:00:00.123Z">
      <data name="duration"><value>42</value></data>
      <data name="wait_type"><value><text>PAGEIOLATCH_SH</text></value></data>
      <action name="session_id" package="sqlserver"><value>53</value></action>
    </event>

This source parses files of such documents (one event per line or
concatenated) into the engine's event model: (event_type, ts, fields map,
actions map), ready for schema application + flattening (S6-S9). The
binary `.xel` container itself is only readable through the closed-source
XEvent SDK (reference bundles its DLLs — XELoader/XEventSDK/2025/), so
the XML text form is the interop boundary a public engine can own
(SURVEY §7.3).

Implementation is JVM-side throughout: Spark's `from_xml` parses the
documents, `map_from_entries` folds data/action nodes into maps — no
Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# from_xml schema for one <event> document: repeated <data> and <action>
# elements, each with a name attribute and a <value> child. The <value>
# node is structural: plain text lands in the element text (`_VALUE`),
# while the SDK's readable-map shape nests it under <text>
# (`<value><text>PAGEIOLATCH_SH</text></value>`) — both are captured and
# coalesced, text-form preferred (that is what the map renders).
_VALUE_SCHEMA = T.StructType(
    [
        T.StructField("_VALUE", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)
_EVENT_XML_SCHEMA = T.StructType(
    [
        T.StructField("_name", T.StringType()),
        T.StructField("_timestamp", T.StringType()),
        T.StructField(
            "data",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("_name", T.StringType()),
                        T.StructField("value", _VALUE_SCHEMA),
                    ]
                )
            ),
        ),
        T.StructField(
            "action",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("_name", T.StringType()),
                        T.StructField("value", _VALUE_SCHEMA),
                    ]
                )
            ),
        ),
    ]
)


def parse_events_xml(df: DataFrame, xml_col: str = "xml") -> DataFrame:
    """Parse a column of `<event>…</event>` documents into the flat event
    model: event_type, ts, fields map<string,string>, actions
    map<string,string>. Values arrive as strings (the XML text content);
    the §1.3 type mapping is applied downstream by schema application —
    exactly the reference's two-phase metadata/value split."""
    parsed = df.withColumn("ev", F.from_xml(F.col(xml_col), _EVENT_XML_SCHEMA))

    def entries(col: str):
        return F.map_from_entries(
            F.expr(
                f"transform(coalesce(ev.{col}, array()), "
                f"x -> struct(x._name as key, "
                f"coalesce(x.value.text, x.value._VALUE) as value))"
            )
        )

    return parsed.select(
        F.col("ev._name").alias("event_type"),
        F.to_timestamp(F.col("ev._timestamp")).alias("ts"),
        entries("data").alias("fields"),
        entries("action").alias("actions"),
    )


def xml_escape(col: F.Column) -> F.Column:
    """Entity-escape element text (&, <, > — the minimum for well-formed
    content); `from_xml` unescapes on parse, so escape→parse round-trips
    exactly."""
    return F.replace(
        F.replace(
            F.replace(col, F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )


def build_event_xml(
    event_type: F.Column,
    ts: F.Column,
    data: dict[str, F.Column],
    actions: dict[str, F.Column] | None = None,
    nested_text: frozenset[str] | set[str] = frozenset(),
) -> F.Column:
    """Render typed columns as one `<event>` document in the public
    `fn_xe_file_target_read_file` shape — the inverse of
    `parse_events_xml`, used by tests and the round-trip driver query to
    prove the parse is lossless. Fields named in `nested_text` render the
    SDK's readable-map form (`<value><text>…</text></value>`); the rest
    render plain `<value>…</value>`."""
    parts: list[F.Column] = [
        F.lit('<event name="'),
        event_type,
        F.lit('" package="test" timestamp="'),
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
        F.lit('Z">'),
    ]
    for name, col in data.items():
        open_v, close_v = (
            ("<value><text>", "</text></value>")
            if name in nested_text
            else ("<value>", "</value>")
        )
        parts += [
            F.lit(f'<data name="{name}">{open_v}'),
            xml_escape(col.cast("string")),
            F.lit(f"{close_v}</data>"),
        ]
    for name, col in (actions or {}).items():
        parts += [
            F.lit(f'<action name="{name}" package="test"><value>'),
            xml_escape(col.cast("string")),
            F.lit("</value></action>"),
        ]
    parts.append(F.lit("</event>"))
    return F.concat(*parts)


def read_xml_events(
    spark: SparkSession, path: str, pattern: str = "*.xml"
) -> DataFrame:
    """S4-as-XML: read text files of one-event-per-line XML and parse.
    Provenance column included for lineage (S23)."""
    raw = (
        spark.read.option("pathGlobFilter", pattern)
        .text(path)
        .withColumnRenamed("value", "xml")
    )
    return parse_events_xml(raw).withColumn("e_source_file", F.input_file_name())


def parse_xem_metadata(xml_text: str) -> tuple[dict[str, str], dict[str, str]]:
    """Parse an explicit-schema sidecar (the public XML rendering of
    XEvent metadata — the `.xem`-era dual-file contract of
    `XELoader/FileProcessor.cs:280-334`, where `QueryableXEventData`
    takes the event file AND a metadata file and the schema comes from
    the sidecar, extracted ONCE, not inferred from events):

        <metadata>
          <event name="wait_info" package="sqlos">
            <data name="duration" type="uint64"/>
            <data name="wait_type" type="unicode_string"/>
          </event>
          <action name="session_id" package="sqlserver" type="uint16"/>
        </metadata>

    Returns ({field → XEvent type}, {action → XEvent type}) merged
    across events — the engine's table model is one wide table over
    the union of fields (S9), exactly like the inferred path; S5's
    difference is WHERE the inventory comes from. A sidecar is
    KB-sized and read once on the driver (stdlib parse — the same
    one-time `ExtractMetadataFromFile` shape as the reference; no
    data-dependent work)."""
    import xml.etree.ElementTree as ET

    root = ET.fromstring(xml_text)
    fields: dict[str, str] = {}
    actions: dict[str, str] = {}
    for ev in root.iter("event"):
        for d in ev.iter("data"):
            fields[d.attrib["name"]] = d.attrib.get("type", "unicode_string")
    for a in root.iter("action"):
        actions[a.attrib["name"]] = a.attrib.get("type", "unicode_string")
    return fields, actions


def flatten_xml_events_explicit(
    parsed: DataFrame,
    fields: dict[str, str],
    actions: dict[str, str],
) -> DataFrame:
    """S5: project map-typed event rows to the flat `c_`/`a_` model with
    an EXPLICIT column inventory — the sidecar decides the columns and
    their §1.3 types. No inference scan runs (compare
    `flatten_xml_events`, which must first scan the maps for key
    names — one job over the data before the real one). Declared
    columns missing from this batch come out typed and NULL (the
    sidecar is the contract, not the sample); undeclared fields in the
    data are dropped (they are not part of the declared schema).

    At 100 TB this is the difference between a metadata-only plan
    build and an extra full scan of the event store."""
    from ..schema import action_column, field_column, spark_type_for

    cols = [F.col("event_type"), F.col("ts")]
    for fname in sorted(fields):
        t = spark_type_for(fields[fname])
        cols.append(
            F.element_at(F.col("fields"), fname)
            .cast(t)
            .alias(field_column(fname))
        )
    for aname in sorted(actions):
        t = spark_type_for(actions[aname])
        cols.append(
            F.element_at(F.col("actions"), aname)
            .cast(t)
            .alias(action_column(aname))
        )
    if "e_source_file" in parsed.columns:
        cols.append(F.col("e_source_file"))
    return parsed.select(*cols)


def read_xml_events_with_xem(
    spark: SparkSession,
    path: str,
    xem_path: str,
    pattern: str = "*.xml",
) -> DataFrame:
    """The dual-file path (S5 over the XML reader): read the event
    files AND the explicit-schema sidecar, flatten with the sidecar's
    inventory. The reference's `ProcessXELwithXEM` analog for the
    public text format."""
    with open(xem_path, encoding="utf-8") as fh:
        fields, actions = parse_xem_metadata(fh.read())
    return flatten_xml_events_explicit(
        read_xml_events(spark, path, pattern=pattern), fields, actions
    )


def flatten_xml_events(parsed: DataFrame, field_types: dict[str, str] | None = None) -> DataFrame:
    """Project the map-typed event rows to the flat `c_`/`a_` column model
    (S9), inferring the field/action inventory from the data and applying
    §1.3 type mapping. `field_types` maps field or action name → XEvent
    type name (defaults to string). One job collects both maps' key sets;
    the projection is `flatten_xml_events_explicit`'s.
    """
    field_types = field_types or {}
    keys = parsed.agg(
        F.collect_set(F.map_keys("fields")).alias("fields"),
        F.collect_set(F.map_keys("actions")).alias("actions"),
    ).first()

    def typed(key_sets):
        return {k: field_types.get(k, "string") for ks in key_sets for k in ks}

    return flatten_xml_events_explicit(
        parsed, typed(keys["fields"]), typed(keys["actions"])
    )
