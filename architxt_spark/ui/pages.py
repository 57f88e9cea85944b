"""Exploration-UI pages — the reference's ``architxt/ui/page/*`` re-expressed
over the Spark engine (``importer.py:1-203``, ``exporter.py:1-78``,
``visualizer.py:1-126``, ``labelling.py:1-135``, ``simplification.py:1-96``).

Each page is a plain function calling :func:`architxt_spark.ui.state.st`
for widgets and the engine APIs for work, so the whole surface runs under
a scripted fake in tests and under real streamlit in a deployment.  The
graph visualization renders the schema as DOT for ``st.graphviz_chart``
(streamlit's built-in graph widget) instead of the reference's
``streamlit_agraph`` extra dependency.
"""

from __future__ import annotations

import os
import tempfile

from architxt_spark.labelling import Renaming, StubChatModel
from architxt_spark.plans.schema import SchemaPlan, extract_group_dataset
from architxt_spark.session import get_spark
from architxt_spark.ui.state import get_forest, get_schema, st, update_metrics

MAX_LINE = 100  # reference visualizer.py:11


def _save_upload(upload) -> str:
    """Persist an uploaded file-like (``.name`` + ``.read()``) to disk."""
    root = tempfile.mkdtemp(prefix="architxt_ui_upload_")
    path = os.path.join(root, os.path.basename(upload.name))
    with open(path, "wb") as f:
        f.write(upload.read())
    return path


# ---------------------------------------------------------------------------
# importer (reference page/importer.py:50-203)
# ---------------------------------------------------------------------------


def _render_jsonl_import(forest) -> None:
    ui = st()
    uploads = ui.file_uploader("JSONL File", ["jsonl"], accept_multiple_files=True)
    if ui.button("Load JSONL", disabled=not uploads):
        from architxt_spark.trees import read_jsonl_forest

        with forest.transaction() as txn:
            for up in uploads:
                txn.upsert(read_jsonl_forest(get_spark(), _save_upload(up)))
        update_metrics()


def _render_document_import(forest) -> None:
    ui = st()
    uploads = ui.file_uploader(
        "Document File",
        [".json", ".toml", ".yml", ".yaml", ".xml", ".csv", ".tsv", ".xls", ".xlsx",
         ".ods", ".doc", ".docx", ".odt", ".rtf", ".ppt", ".pptx", ".odp",
         ".pdf", ".eml", ".msg", ".html", ".htm", ".md", ".epub", ".dbf",
         ".wk1", ".wks", ".slk", ".mbox"],
        accept_multiple_files=True,
    )
    if ui.button("Load document", disabled=not uploads):
        from architxt_spark.sources.documents import read_document_file

        with forest.transaction() as txn:
            for up in uploads:
                txn.upsert(read_document_file(get_spark(), _save_upload(up)))
        update_metrics()


def _render_sql_import(forest) -> None:
    ui = st()
    c1, c2 = ui.columns((4, 1))
    url = c1.text_input("SQL URI", value="sqlite:///example.db")
    sample = c2.number_input("Sample", min_value=1, value=None)
    if ui.button("Load SQL"):
        from architxt_spark.sources.jdbc import load_sql

        nodes = load_sql(get_spark(), url, sample=int(sample or 0))
        with forest.transaction() as txn:
            txn.upsert(nodes)
        update_metrics()


def _render_graph_import(forest) -> None:
    ui = st()
    c1, c2, c3 = ui.columns((2, 1, 1))
    uri = c1.text_input("Graph URI", value="bolt://localhost:7687")
    user = c2.text_input("Username", value="neo4j")
    password = c3.text_input("Password", type="password")
    d1, d2 = ui.columns(2)
    labels = d1.text_input("Node labels (comma-separated)", value="")
    rel_types = d2.text_input("Relationship types (comma-separated)", value="")
    if ui.button("Load Graph"):
        from architxt_spark.connectors.neo4j import (
            Neo4jConfig,
            connector_available,
            read_cypher_live,
        )

        spark = get_spark()
        if not connector_available(spark):
            ui.warning(
                "Neo4j Spark connector not on the classpath; add "
                "org.neo4j:neo4j-connector-apache-spark to spark.jars.packages"
            )
            return
        cfg = Neo4jConfig(url=uri, username=user or None, password=password or None)
        nodes = read_cypher_live(
            spark, cfg,
            [s.strip() for s in labels.split(",") if s.strip()],
            [s.strip() for s in rel_types.split(",") if s.strip()],
        )
        with forest.transaction() as txn:
            txn.upsert(nodes)
        update_metrics()


def _render_corpus_import(forest) -> None:
    ui = st()
    uploads = ui.file_uploader(
        "Corpora", [".tar.gz", ".tar.xz", ".txt", ".doc", ".docx", ".odt",
                    ".rtf", ".ppt", ".pptx", ".odp", ".pdf", ".eml", ".msg",
                    ".html", ".htm", ".md", ".epub", ".mbox"],
        accept_multiple_files=True,
    )
    c1, c2, c3 = ui.columns(3)
    language = c1.selectbox("Language", ["English", "French", "German"])
    parser_type = c2.selectbox("Parser", ["Stub", "CoreNLP", "Benepar"])
    parser_factory = None
    if parser_type == "CoreNLP":
        corenlp_url = c3.text_input("CoreNLP URL", value="http://localhost:9000")

        def parser_factory() -> object:
            from architxt_spark.nlp.parser import CoreNLPParser

            return CoreNLPParser(corenlp_url=corenlp_url, language=language)

    elif parser_type == "Benepar":

        def parser_factory() -> object:
            from architxt_spark.nlp.parser import BeneparParser

            return BeneparParser(language=language)

    if ui.button("Load Corpus", disabled=not uploads):
        from architxt_spark.pipeline import cached_load_corpus

        spark = get_spark()
        state = st().session_state
        if "corpus_cache_dir" not in state:
            state["corpus_cache_dir"] = tempfile.mkdtemp(prefix="architxt_ui_cache_")
        with forest.transaction() as txn:
            for up in uploads:
                docs = _corpus_docs(spark, _save_upload(up))
                txn.upsert(
                    cached_load_corpus(
                        docs,
                        cache_dir=state["corpus_cache_dir"],
                        parser_factory=parser_factory,
                    )
                )
        update_metrics()


def _corpus_docs(spark, path: str):
    """A corpus upload → (doc_id, txt[, ann]) frame: BRAT-style tarballs
    (``.txt`` + optional sibling ``.ann`` members) or a bare text file —
    the reference's ``raw_load_corpus`` input shape
    (``architxt/nlp/__init__.py:243-321``)."""
    if path.endswith((".tar.gz", ".tar.xz", ".tar")):
        import tarfile

        texts: dict[str, str] = {}
        anns: dict[str, str] = {}
        with tarfile.open(path) as tf:
            for member in tf.getmembers():
                if not member.isfile():
                    continue
                stem, ext = os.path.splitext(member.name)
                if ext not in (".txt", ".ann"):
                    continue
                data = tf.extractfile(member).read().decode("utf-8", "replace")
                (texts if ext == ".txt" else anns)[stem] = data
        rows = [
            (os.path.basename(stem), txt, anns.get(stem, ""))
            for stem, txt in sorted(texts.items())
        ]
        return spark.createDataFrame(rows, "doc_id string, txt string, ann string")
    if path.endswith(".mbox"):
        # a mail archive IS a corpus: one document per message
        from architxt_spark.sources.mail import read_mbox_messages

        stem = os.path.basename(path)
        rows = [
            (f"{stem}#{m}", "\n".join(paras))
            for m, paras in enumerate(read_mbox_messages(path))
        ]
        return spark.createDataFrame(rows, "doc_id string, txt string")
    if path.endswith((".doc", ".docx", ".odt", ".rtf", ".ppt", ".pptx",
                      ".odp", ".pdf", ".eml", ".msg", ".html", ".htm", ".md",
                      ".epub")):
        if path.endswith(".pdf"):
            from architxt_spark.sources.pdf import read_pdf_pages

            paras = read_pdf_pages(path)
        else:
            from architxt_spark.sources.office import (
                read_docx_paragraphs,
                read_odp_slides,
                read_odt_paragraphs,
                read_pptx_slides,
            )
            from architxt_spark.sources.mail import read_eml_text, read_msg_text
            from architxt_spark.sources.webdoc import (
                read_epub_chapters,
                read_html_paragraphs,
                read_markdown_paragraphs,
            )
            from architxt_spark.sources.ppt import read_ppt_slides
            from architxt_spark.sources.rtf import read_rtf_text
            from architxt_spark.sources.worddoc import read_doc_paragraphs

            reader = {
                ".doc": read_doc_paragraphs,
                ".docx": read_docx_paragraphs,
                ".odt": read_odt_paragraphs,
                ".rtf": read_rtf_text,
                ".ppt": read_ppt_slides,
                ".pptx": read_pptx_slides,
                ".odp": read_odp_slides,
                ".eml": read_eml_text,
                ".msg": read_msg_text,
                ".html": read_html_paragraphs,
                ".htm": read_html_paragraphs,
                ".md": read_markdown_paragraphs,
                ".epub": read_epub_chapters,
            }["." + path.rsplit(".", 1)[1]]
            paras = reader(path)
        return spark.createDataFrame(
            [(os.path.basename(path), "\n".join(paras))], "doc_id string, txt string"
        )
    with open(path, encoding="utf-8") as f:
        return spark.createDataFrame(
            [(os.path.basename(path), f.read())], "doc_id string, txt string"
        )


IMPORTER = {
    "JSONL File": _render_jsonl_import,
    "Document File": _render_document_import,
    "SQL Database": _render_sql_import,
    "Graph Database": _render_graph_import,
    "Text Corpus": _render_corpus_import,
}


def importer() -> None:
    ui = st()
    ui.header("Import Data")
    forest = get_forest()
    source = ui.selectbox("Source Type", list(IMPORTER))
    IMPORTER[source](forest)


# ---------------------------------------------------------------------------
# exporter (reference page/exporter.py:13-78)
# ---------------------------------------------------------------------------


def _render_jsonl_export(forest) -> None:
    ui = st()

    def get_jsonl() -> bytes:
        from architxt_spark.trees import write_jsonl_forest

        with tempfile.TemporaryDirectory() as tmp:
            path = os.path.join(tmp, "architxt_export.jsonl")
            write_jsonl_forest(forest.read(), path)  # a spark text directory
            parts = sorted(
                os.path.join(path, p)
                for p in os.listdir(path)
                if p.startswith("part-")
            )
            return b"".join(open(p, "rb").read() for p in parts)

    ui.download_button(
        label="Export & Download JSONL",
        data=get_jsonl,
        file_name="architxt_export.jsonl",
        mime="application/jsonlines",
    )


def _render_sql_export(forest) -> None:
    ui = st()
    path = ui.text_input("SQLite path", value="output.db")
    if ui.button("Export to SQL"):
        from architxt_spark.pipeline import export_sql
        from architxt_spark.sinks import write_sqlite

        ddl, frames, order = export_sql(forest.read())
        write_sqlite(frames, ddl, path, order)
        ui.success("Exported successfully.")


def _render_cypher_export(forest) -> None:
    ui = st()
    c1, c2, c3 = ui.columns(3)
    uri = c1.text_input("Graph URI", value="bolt://localhost:7687")
    user = c2.text_input("Username", value="neo4j")
    password = c3.text_input("Password", type="password")
    if ui.button("Export to Graph"):
        from architxt_spark.connectors.neo4j import (
            Neo4jConfig,
            connector_available,
            write_cypher_live,
        )
        from architxt_spark.plans.schema import schema_from_forest

        spark = get_spark()
        nodes = forest.read()
        if not connector_available(spark):
            # connector-less fallback: a deterministic MERGE script
            from architxt_spark.sinks.cypher import export_cypher_script

            schema = schema_from_forest(nodes, keep_unlabelled=False)
            script = "\n".join(export_cypher_script(nodes, schema))
            ui.download_button(
                label="Connector absent — download Cypher script instead",
                data=script.encode(),
                file_name="architxt_export.cypher",
                mime="text/plain",
            )
            return
        cfg = Neo4jConfig(url=uri, username=user or None, password=password or None)
        write_cypher_live(
            nodes, schema_from_forest(nodes, keep_unlabelled=False), cfg
        )
        ui.success("Exported successfully.")


EXPORTER = {
    "JSONL File": _render_jsonl_export,
    "SQL Database": _render_sql_export,
    "Graph Database": _render_cypher_export,
}


def exporter() -> None:
    ui = st()
    ui.header("Export Data")
    forest = get_forest()
    if len(forest) == 0:
        ui.info("No data to export.")
        return
    fmt = ui.selectbox("Format", list(EXPORTER))
    EXPORTER[fmt](forest)


# ---------------------------------------------------------------------------
# visualizer (reference page/visualizer.py:41-126)
# ---------------------------------------------------------------------------


def schema_dot(schema: SchemaPlan) -> str:
    """Schema → DOT digraph: entity/group nodes, group→entity membership
    edges, relation edges with orientation arrows (the reference builds
    the same graph for streamlit_agraph — ``visualizer.py:41-70``)."""
    lines = ["digraph schema {", "  rankdir=LR;"]
    for ent in sorted(schema.entities):
        lines.append(f'  "ENT::{ent}" [label="{ent}", color=blue];')
    for group in sorted(schema.groups):
        lines.append(f'  "GROUP::{group}" [label="{group}", color=red];')
        for ent in sorted(schema.groups[group]):
            lines.append(f'  "GROUP::{group}" -> "ENT::{ent}";')
    for rel in sorted(schema.relations, key=lambda r: (r.name, r.left, r.right)):
        left, right = f'"GROUP::{rel.left}"', f'"GROUP::{rel.right}"'
        orient = str(getattr(rel.orientation, "value", rel.orientation)).upper()
        if orient == "RIGHT":
            lines.append(f'  {right} -> {left} [label="{rel.name}"];')
        elif orient == "LEFT":
            lines.append(f'  {left} -> {right} [label="{rel.name}"];')
        else:
            lines.append(f'  {left} -> {right} [label="{rel.name}", dir=both];')
    lines.append("}")
    return "\n".join(lines)


def render_dataframe(forest, groups: set[str]) -> None:
    """Instance table for one group, columns ordered by null count then
    name, rows null-sorted — the reference's exact presentation contract
    (``visualizer.py:73-105``) computed engine-side instead of by a
    driver loop over trees."""
    ui = st()
    group_name = ui.selectbox("Group", sorted(groups))
    ds = extract_group_dataset(forest.read(), group_name)
    pdf = ds.drop("__oid") if "__oid" in ds.columns else ds
    pdf = pdf.dropDuplicates().limit(MAX_LINE + 1).toPandas()
    if not len(pdf):
        ui.warning("No instances found for the selected group.")
        return
    cols = sorted(pdf.columns, key=lambda c: (pdf[c].isna().sum(), c))
    pdf = pdf.reindex(columns=cols)
    pdf = (
        pdf.assign(_row_nulls=pdf.isna().sum(axis=1))
        .sort_values(by=["_row_nulls", *cols], na_position="last", kind="mergesort")
        .drop(columns="_row_nulls")
        .head(MAX_LINE)
        .reset_index(drop=True)
    )
    ui.dataframe(pdf, width="stretch")


def visualizer() -> None:
    ui = st()
    c1, c2 = ui.columns((1, 2))
    forest = get_forest()
    schema = get_schema(forest)
    with c1:
        ui.header("Schema")
        ui.graphviz_chart(schema_dot(schema))
    with c2:
        ui.header("Instance")
        groups = set(schema.groups)
        if groups:
            render_dataframe(forest, groups)
        else:
            ui.warning("No groups found in the forest.")


# ---------------------------------------------------------------------------
# labelling (reference page/labelling.py:13-135)
# ---------------------------------------------------------------------------


def _reset_labelling_tables(schema: SchemaPlan) -> None:
    import pandas as pd

    state = st().session_state
    state["group_renames"] = pd.DataFrame(
        [{"Current Name": g, "New Name": g} for g in sorted(schema.groups)]
    )
    state["relation_renames"] = pd.DataFrame(
        [
            {"Current Name": r, "New Name": r}
            for r in sorted({rel.name for rel in schema.relations})
        ]
    )


def _collect_renames() -> list[Renaming]:
    state = st().session_state
    renames: list[Renaming] = []
    for _, row in state["group_renames"].iterrows():
        if row["Current Name"] != row["New Name"]:
            renames.append(Renaming("GROUP", row["Current Name"], row["New Name"]))
    for _, row in state["relation_renames"].iterrows():
        if row["Current Name"] != row["New Name"]:
            renames.append(Renaming("REL", row["Current Name"], row["New Name"]))
    return renames


def labelling() -> None:
    ui = st()
    ui.header("Labelling")
    forest = get_forest()
    schema = get_schema(forest)
    if not schema.groups:
        ui.warning("No groups found in the forest.")
        return
    state = ui.session_state
    if "group_renames" not in state:
        _reset_labelling_tables(schema)

    c1, c2 = ui.columns(2)
    with c1:
        ui.write("**Groups**")
        state["group_renames"] = ui.data_editor(
            state["group_renames"], key="group_editor", disabled=["Current Name"]
        )
    with c2:
        ui.write("**Relations**")
        state["relation_renames"] = ui.data_editor(
            state["relation_renames"], key="relation_editor", disabled=["Current Name"]
        )
    renames = _collect_renames()

    b1, b2 = ui.columns(2)
    if b1.button("Reset"):
        _reset_labelling_tables(schema)
        ui.rerun()
    if b2.button("Apply Renaming", disabled=not renames):
        from architxt_spark.labelling import apply_renamings

        with forest.transaction() as txn:
            txn.upsert(apply_renamings(forest.read(), renames))
        ui.toast(f"Applied {len(renames)} renaming.")
        update_metrics()

    ui.divider()
    ui.subheader("LLM Auto-labelling")
    sample_size = ui.number_input("Sample Size", min_value=0, value=5)
    if ui.button("Get AI Suggestions"):
        from architxt_spark.labelling import (
            llm_group_labelling,
            llm_relation_labelling,
        )

        # the ChatModel seam: deployments install a real client in
        # session_state["chat_model"]; the stub echoes cleaned names
        chat = state.get("chat_model") or StubChatModel()
        group_renames = llm_group_labelling(
            schema, chat, nodes=forest.read(), sample_size=int(sample_size)
        )
        gmap = {r.old_name: r.new_name for r in group_renames}
        gdf = state["group_renames"].copy()
        gdf["New Name"] = gdf["Current Name"].map(lambda x: gmap.get(x, x))
        state["group_renames"] = gdf
        rel_renames = llm_relation_labelling(schema, chat, group_renames=group_renames)
        rmap = {r.old_name: r.new_name for r in rel_renames}
        rdf = state["relation_renames"].copy()
        rdf["New Name"] = rdf["Current Name"].map(lambda x: rmap.get(x, x))
        state["relation_renames"] = rdf
        ui.toast("AI suggestions generated! Review them in the tables above.")
        ui.rerun()


# ---------------------------------------------------------------------------
# simplification (reference page/simplification.py:13-96)
# ---------------------------------------------------------------------------


def _render_rule_based(forest) -> None:
    ui = st()
    c1, c2 = ui.columns(2)
    tau = c1.number_input("Tau (Similarity)", 0.0, 1.0, 0.8)
    epoch = c2.number_input("Epochs", min_value=1, value=50)
    min_support = c1.number_input("Min Support", min_value=1, value=10)
    if ui.button("Apply Rule-Based Simplification"):
        from architxt_spark.pipeline import simplify

        nodes, _schema = simplify(
            forest.read(), tau=float(tau), epoch=int(epoch),
            min_support=int(min_support),
        )
        forest.write(nodes)
        update_metrics()


def _render_llm_based(forest) -> None:
    ui = st()
    max_tokens = ui.number_input("Max Tokens", min_value=256, value=4096, step=128)
    if ui.button("Apply LLM Simplification"):
        from architxt_spark.llm import FallbackNormalizer, llm_rewrite, sanitize_forest

        factory = ui.session_state.get("normalizer_factory") or FallbackNormalizer
        nodes = sanitize_forest(
            llm_rewrite(
                forest.read(), factory, max_batch_tokens=int(max_tokens)
            )
        )
        forest.write(nodes)
        update_metrics()


TRANSFORMER = {
    "Default (rule-based)": _render_rule_based,
    "LLM": _render_llm_based,
}


def simplification() -> None:
    ui = st()
    ui.header("Simplify")
    forest = get_forest()
    if len(forest) == 0:
        ui.info("No data loaded. Please import data using the top menu.")
        return
    method = ui.selectbox("Method", list(TRANSFORMER))
    TRANSFORMER[method](forest)
